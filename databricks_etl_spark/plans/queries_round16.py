"""Round-16 lanes.

Every lane here registers ``defer=True``: the round-16 driver window
is q01 + the 30-lane round-15 queue (q627-q656), leaving 19 free
slots.  Deferred lanes rank behind the queued twins but ahead of
rows-only entries, so the first 19 lanes below fill the window by
registration order and the remainder queue for round 17 (the VERDICT
r13 #2 discipline).

Families extended this round (VERDICT r15 "Next round" #4-#7 plus
breadth):

- forecasting (q622 Holt, q645 PACF) -> AR(2) one-step backtest via
  Yule-Walker from the exact ACF (q657);
- decontamination ladder (q283 exact substring, q319 chunk n-gram)
  -> the EMBEDDING rung: semantic eval-set contamination via
  cell-blocked cosine (q658);
- graph family (q619 SSSP, q620 k-core, q581 PageRank) -> sampled
  harmonic centrality over a bounded-hop multi-source BFS (q659);
- classifier family (q623 NB, q618 stump, q595 kNN) -> logistic
  regression by unrolled exact IRLS/Newton steps (q660);
- finance/ops (q615 price-volume-mix, q586 bridge) -> classic price
  indices Laspeyres/Paasche/Fisher (q661); inequality (q600 Theil,
  q604 HHI) -> exact Gini per nation (q662);
- text-ML (q623 NB, q644 Heaps) -> Jensen-Shannon divergence between
  source token distributions (q663) and the Zipf rank-frequency
  slope (q664);
- time series (q614 ACF) -> Mann-Kendall trend test (q665);
  moment statistics (q612 ANOVA) -> Jarque-Bera normality (q666);
- ops/quality -> process capability Cp/Cpk per brand (q667) and the
  Brown-Forsythe equal-spread test (q668);
- nonparametric family -> two-sample Kolmogorov-Smirnov (q677),
  Friedman paired ranks (q678), Cochran's Q (q679);
- model monitoring -> PSI over fixed scorecard bins (q680); the
  calibration/deployment readouts ECE/MCE (q685) and the decile
  gains table (q686);
- survival family -> restricted mean survival time over the q540 KM
  curve (q687); time-series randomness screens: turning points
  (q688) and Wald-Wolfowitz runs (q689); ops screens: Grubbs
  max-deviation (q690) and the A/B sample-ratio-mismatch guardrail
  (q691);
- streaming twins q669-q676, q681-q684, q692-q693: epoch-idempotent
  additive partial landing + shared-card drains for fourteen of the
  batch lanes (drain == batch under any slicing, 13-way hostile
  tests).

Reference parity: the reference corpus (gbaliarda/databricks-etl,
notebooks etl.py / transform.py / pre_analysis.py) has none of these
surfaces - they extend SURVEY.md SS2's analytics/ML-pipeline mandate.

Cross-engine determinism: float tails are ONE portable expression
string shared verbatim by both engines, evaluated from exact inputs
(DECIMAL(38,0) integer moments, 6dp-rounded ACF values, 9dp-rounded
small-magnitude transcendental terms decimal-summed - the q600/q623
discipline).  Wide-integer magnitudes never pass through a
double->DECIMAL(28,9) cast (the q612 rule); error sums stay in exact
BIGINT cents via the FLOOR(f + 0.5) integer quantization of the
forecast (q477's half-up spelling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.plans.registry import QUERIES, query
from databricks_etl_spark.sources.readers import read_table
from databricks_etl_spark.sources.writers import fresh_scratch_dir
from databricks_etl_spark.streaming import sinks

# ---------------------------------------------------------------------------
# q657 — AR(2) one-step backtest (Yule–Walker from the exact ACF)
# ---------------------------------------------------------------------------
#
# Closes the loop VERDICT r15 #4 asked for: q614 (exact ACF) and q645
# (Durbin–Levinson PACF) produce the Yule–Walker inputs; this lane
# fits AR(2) coefficients φ1 = a1(1−a2)/(1−a1²), φ2 = (a2−a1²)/(1−a1²)
# from the 6dp-rounded lag-1/lag-2 autocorrelations and scores the
# one-step forecast x̂_t = μ + φ1(x_{t−1}−μ) + φ2(x_{t−2}−μ) against
# naive persistence (x̂_t = x_{t−1}), q622's SAE-card style.  The
# forecast is quantized to integer cents via FLOOR(f + 0.5) — the
# only float is one portable expression from identical exact inputs,
# so the absolute-error sums are exact BIGINT on both engines.

_Q657_ACF_K = (
    "round((CAST(sxy{k} AS DOUBLE)"
    " - (CAST(s AS DOUBLE) / n) * (CAST(sh{k} AS DOUBLE)"
    " + CAST(st{k} AS DOUBLE))"
    " + (CAST(n AS DOUBLE) - {k})"
    " * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
    " / (CAST(q AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)"
)
_Q657_PHI1 = "((a1 * (1 - a2)) / (1 - a1 * a1))"
_Q657_PHI2 = "((a2 - a1 * a1) / (1 - a1 * a1))"
_Q657_MU = "(CAST(s AS DOUBLE) / n)"
_Q657_FINT = (
    f"CAST(FLOOR(({_Q657_MU}"
    f" + {_Q657_PHI1} * (CAST(x1 AS DOUBLE) - {_Q657_MU})"
    f" + {_Q657_PHI2} * (CAST(x2 AS DOUBLE) - {_Q657_MU}))"
    " + 0.5) AS BIGINT)"
)
_Q657_AE_AR = f"abs(x0 - {_Q657_FINT})"


def _q657_oracle() -> str:
    sxy = ",\n".join(
        f"""               CAST(SUM(CASE WHEN l.lag = {k}
                    THEN CAST(a.x AS DECIMAL(38,0)) * b.x END)
                    AS DECIMAL(38,0)) AS sxy{k},
               CAST(SUM(CASE WHEN l.lag = {k}
                    THEN CAST(a.x AS DECIMAL(38,0)) END)
                    AS DECIMAL(38,0)) AS sh{k},
               CAST(SUM(CASE WHEN l.lag = {k}
                    THEN CAST(b.x AS DECIMAL(38,0)) END)
                    AS DECIMAL(38,0)) AS st{k}"""
        for k in (1, 2)
    )
    return f"""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        idx AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                       AS i, x
            FROM daily
        ),
        tot AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS s,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
                        AS DECIMAL(38,0)) AS q
            FROM idx
        ),
        lags AS (SELECT unnest([1, 2]) AS lag),
        piv AS MATERIALIZED (
            SELECT
{sxy}
            FROM lags l
            JOIN idx a ON TRUE
            JOIN idx b ON b.i = a.i + l.lag
        ),
        acf AS MATERIALIZED (
            SELECT tot.n, tot.s,
                   {_Q657_ACF_K.format(k=1)} AS a1,
                   {_Q657_ACF_K.format(k=2)} AS a2
            FROM piv, tot
        ),
        tri AS MATERIALIZED (
            SELECT c.x AS x0, p1.x AS x1, p2.x AS x2
            FROM idx c
            JOIN idx p1 ON p1.i = c.i - 1
            JOIN idx p2 ON p2.i = c.i - 2
        ),
        card AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
                   CAST(SUM(CAST({_Q657_AE_AR} AS DECIMAL(38,0)))
                        AS BIGINT) AS sae_ar,
                   CAST(SUM(CAST(abs(x0 - x1) AS DECIMAL(38,0)))
                        AS BIGINT) AS sae_p
            FROM tri, acf
        )
        SELECT acf.n AS n_days, card.n_eval,
               round({_Q657_PHI1}, 6) AS phi1,
               round({_Q657_PHI2}, 6) AS phi2,
               card.sae_ar AS sae_ar_cents,
               card.sae_p AS sae_persistence_cents,
               card.sae_ar < card.sae_p AS ar_beats_persistence
        FROM card, acf
    """


def _q657_card_from_daily(daily: DataFrame) -> DataFrame:
    """The AR(2) backtest over a (d, x) daily-cents grid — shared by
    the batch lane and the streaming twin's drain so the two can
    never drift."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    daily = daily.withColumn("one", F.lit(1).cast("long"))
    idx = (
        exact_cumsum(daily, ["d"], "one", out_col="i")
        .select(F.col("i").cast("long").alias("i"), "x")
        .localCheckpoint()
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    a = idx.withColumn(
        "lag", F.explode(F.array(F.lit(1), F.lit(2)))
    ).withColumn("i2", F.col("i") + F.col("lag"))
    b = idx.select(F.col("i").alias("i2"), F.col("x").alias("x2"))
    j = a.join(b, "i2")
    aggs = []
    for k in (1, 2):
        is_k = F.col("lag") == k
        aggs += [
            F.sum(
                F.when(
                    is_k,
                    F.col("x").cast("decimal(38,0)") * F.col("x2"),
                )
            )
            .cast("decimal(38,0)")
            .alias(f"sxy{k}"),
            F.sum(F.when(is_k, F.col("x").cast("decimal(38,0)")))
            .cast("decimal(38,0)")
            .alias(f"sh{k}"),
            F.sum(F.when(is_k, F.col("x2").cast("decimal(38,0)")))
            .cast("decimal(38,0)")
            .alias(f"st{k}"),
        ]
    acf = (
        j.agg(*aggs)
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "s",
            F.expr(_Q657_ACF_K.format(k=1)).alias("a1"),
            F.expr(_Q657_ACF_K.format(k=2)).alias("a2"),
        )
    )
    p1 = idx.select((F.col("i") + 1).alias("i"), F.col("x").alias("x1"))
    p2 = idx.select((F.col("i") + 2).alias("i"), F.col("x").alias("x2"))
    tri = (
        idx.select("i", F.col("x").alias("x0"))
        .join(p1, "i")
        .join(p2, "i")
    )
    card = tri.crossJoin(F.broadcast(acf)).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.expr(_Q657_AE_AR).cast("decimal(38,0)"))
        .cast("long")
        .alias("sae_ar"),
        F.sum(F.expr("abs(x0 - x1)").cast("decimal(38,0)"))
        .cast("long")
        .alias("sae_p"),
    )
    return card.crossJoin(F.broadcast(acf)).select(
        F.col("n").alias("n_days"),
        "n_eval",
        F.round(F.expr(_Q657_PHI1), 6).alias("phi1"),
        F.round(F.expr(_Q657_PHI2), 6).alias("phi2"),
        F.col("sae_ar").alias("sae_ar_cents"),
        F.col("sae_p").alias("sae_persistence_cents"),
        (F.col("sae_ar") < F.col("sae_p")).alias("ar_beats_persistence"),
    )


@query("q657_ar2_backtest", oracle=_q657_oracle(), defer=True)
def q657_ar2_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) ONE-STEP BACKTEST on daily order revenue — the
    forecasting rung VERDICT r15 #4 asked for: Yule–Walker
    coefficients φ1/φ2 from the exact q614 ACF machinery (6dp-rounded
    a1/a2 — identical exact inputs on both engines), one-step
    forecasts x̂_t = μ + φ1(x_{t−1}−μ) + φ2(x_{t−2}−μ) quantized to
    integer cents by FLOOR(f + 0.5) (q477's half-up spelling), and
    the SAE verdict card vs naive persistence (q622's plain-vs-model
    discipline).  Error sums are exact BIGINT cents — no float ever
    enters an aggregate (the q612 wide-magnitude rule).

    Scale shape: one orders scan → bounded daily grid; day indexing
    via exact_cumsum (no global window); the lag pivot and the
    (t, t−1, t−2) triple join run on the bounded grid; two 1-row
    broadcast cards."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("x")
    )
    return _q657_card_from_daily(daily)


# ---------------------------------------------------------------------------
# q658 — semantic eval-set decontamination (embedding rung)
# ---------------------------------------------------------------------------
#
# The contamination ladder (q283 exact substring → q319 chunk n-gram)
# gets the rung VERDICT r15 #5 asked for: eval docs (doc_id % 50 = 0,
# the q283 bench split) whose EMBEDDING is near-duplicated by a
# training-pool embedding are semantic leaks that no string match
# catches.  Candidate generation is cell co-membership under the q285
# fixed comb centroids (the IVF blocking that makes this run at
# 100 TB — never all-pairs); candidates are verified by exact cosine
# ≥ τ; the card is q284's per-source contamination rate.

_Q658_T = 0.35  # same τ as the q285 SemDeDup rung


def _q658_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_D2,
    )
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    vals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    sim = (
        f"round({_dot_sql('c.embedding', 'b.embedding')}"
        f" / (sqrt({_dot_sql('c.embedding', 'c.embedding')})"
        f" * sqrt({_dot_sql('b.embedding', 'b.embedding')}))"
        ", 6)"
    )
    return f"""
        WITH cents(cid, c) AS (VALUES {vals}),
        casg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM embeddings, cents
        ),
        cells AS MATERIALIZED (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM casg WHERE rn = 1
        ),
        bench AS (SELECT * FROM cells WHERE vec_id % 50 = 0),
        corp AS (SELECT * FROM cells WHERE vec_id % 50 <> 0),
        hits AS (
            SELECT DISTINCT c.vec_id
            FROM corp c JOIN bench b ON c.cell_id = b.cell_id
            WHERE {sim} >= {_Q658_T}
        ),
        docs AS (
            SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(h.vec_id) AS BIGINT)
                   AS n_semantic_contaminated,
               round(CAST(COUNT(h.vec_id) AS DOUBLE) / COUNT(*), 6)
                   AS semantic_contamination_rate
        FROM docs d LEFT JOIN hits h ON d.doc_id = h.vec_id
        GROUP BY 1
    """


def _q658_hits(cells: DataFrame, tau: float = _Q658_T) -> DataFrame:
    """Distinct training vec_ids cosine-near (≥ tau) a SAME-CELL eval
    vector — the cell-blocked verify step, factored so the planted
    paraphrase fixture test can pin both the in-cell hit and the
    documented cross-cell miss.  ``cells`` is assign_cells output;
    the eval split is vec_id % 50 = 0 (the q283 bench convention)."""
    from databricks_etl_spark.operators import similarity as SIM

    bench = cells.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("bemb"),
        SIM.norm(F.col("embedding")).alias("__bn"),
        "cell_id",
    )
    corp = cells.filter(F.col("vec_id") % 50 != 0).withColumn(
        "__cn", SIM.norm(F.col("embedding"))
    )
    return (
        corp.join(bench, "cell_id")
        .filter(
            F.round(
                SIM.paired_cosine(
                    F.col("embedding"),
                    F.col("bemb"),
                    F.col("__cn"),
                    F.col("__bn"),
                ),
                6,
            )
            >= F.lit(tau)
        )
        .select("vec_id")
        .distinct()
    )


@query("q658_semantic_decontamination", oracle=_q658_oracle(), defer=True)
def q658_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC eval-set decontamination — the embedding rung of the
    contamination ladder (exact substring q283 → chunk n-gram q319 →
    THIS): a training doc whose embedding lies within cosine τ=0.35
    of an eval-doc embedding is a paraphrase-level leak no string
    match catches.  Candidates come from cell co-membership under the
    q285 fixed comb centroids (operators.similarity.assign_cells);
    exact cosine verifies; the card is q284's per-source rate.

    The cell blocking is the documented 100 TB trade: a cross-cell
    near-pair is missed (the planted-fixture unit test pins both the
    hit and the miss), the price of never running all-pairs — the
    same recall/cost dial every IVF lane (q286/q341) documents.

    Scale shape: one embeddings scan + broadcast 8-centroid argmin;
    the verify join is cell-blocked (bench side is the eval slice —
    small by construction); per-source card."""
    from databricks_etl_spark.operators import similarity as SIM
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    cells = SIM.assign_cells(e, cents).localCheckpoint()
    return _q658_card_from_cells(cells, d)


def _q658_card_from_cells(cells: DataFrame, d: DataFrame) -> DataFrame:
    """Per-source contamination card over assigned cells — shared by
    the batch lane and the streaming twin's drain."""
    hits = _q658_hits(cells).withColumn("__hit", F.lit(1))
    docs = d.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    n = F.count(F.lit(1))
    return (
        docs.join(hits, "vec_id", "left")
        .groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.count("__hit").cast("long").alias("n_semantic_contaminated"),
            F.round(F.count("__hit").cast("double") / n, 6).alias(
                "semantic_contamination_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q659 — sampled harmonic centrality (bounded-hop multi-source BFS)
# ---------------------------------------------------------------------------
#
# The centrality rung VERDICT r15 #6 asked for: harmonic centrality
# hc(v) = Σ_{s≠v} 1/d(s,v) estimated from a deterministic md5 sample
# of source nodes (the q388 honest-sampled-truth framing — the sample
# rate is the 100 TB budget knob) over a bounded-hop (H=4)
# multi-source BFS on the q619 planted co-order graph.  Distances are
# exact BIGINT; 1/d terms are exact rationals, 9dp-rounded and
# decimal-summed (row-order independent).

_Q659_HEX = "01"  # md5 first hex here → sampled source (~1/8)
_Q659_H = 4  # hop bound
_Q659_TOP = 20


def _q659_oracle() -> str:
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    head = f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % {_Q514_MOD} = 0
        ),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT pk FROM li),
        srcs AS MATERIALIZED (
            SELECT pk FROM nodes
            WHERE strpos('{_Q659_HEX}', substr(md5('hc:' ||
                CAST(pk AS VARCHAR)), 1, 1)) > 0
        ),
        d0 AS MATERIALIZED (
            SELECT pk AS s, pk, CAST(0 AS BIGINT) AS d FROM srcs
        )"""
    steps = []
    for i in range(1, _Q659_H + 1):
        steps.append(f""",
        d{i} AS MATERIALIZED (
            SELECT s, pk, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, pk, d FROM d{i - 1}
                UNION ALL
                SELECT p.s, e.dst AS pk, p.d + 1 AS d
                FROM d{i - 1} p JOIN edges e ON e.src = p.pk
            ) GROUP BY 1, 2
        )""")
    return (
        head
        + "".join(steps)
        + f"""
        SELECT rank_pos, pk, n_sources_reaching, harmonic FROM (
            SELECT CAST(row_number() OVER (ORDER BY hs DESC, pk)
                        AS BIGINT) AS rank_pos,
                   pk, n_sources_reaching,
                   round(CAST(hs AS DOUBLE), 6) AS harmonic
            FROM (
                SELECT pk,
                       CAST(COUNT(*) AS BIGINT) AS n_sources_reaching,
                       CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / d, 9)
                                AS DECIMAL(28,9))) AS DECIMAL(28,9))
                           AS hs
                FROM d{_Q659_H} WHERE d >= 1 GROUP BY 1
            )
        ) WHERE rank_pos <= {_Q659_TOP}
    """
    )


@query(
    "q659_harmonic_centrality_sampled",
    oracle=_q659_oracle(),
    defer=True,
)
def q659_harmonic_centrality_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLED HARMONIC CENTRALITY of the planted co-order graph —
    hc(v) = Σ_s 1/d(s,v) over a deterministic md5 1/8 sample of
    source nodes, distances from a bounded-hop (H=4) MULTI-SOURCE
    BFS: per round one keyed equi-join frontier⋈edges and one
    grouped MIN on (source, node) — the q619 loop generalized to a
    source set, state holding only REACHED (s, v) pairs (never
    |S|×|V|).  1/d terms are exact rationals, 9dp-rounded,
    decimal-summed; top-20 ordered by the EXACT decimal sum
    (tiebreak pk) so the cutoff can never flip on a float ulp.

    The 1/8 sample rate and hop bound are the documented 100 TB
    budget knobs (the q388 honest-sampled-truth framing): full
    harmonic centrality is all-pairs BFS — quadratic and off the
    table by design.

    Scale shape: edges built once and localCheckpointed; H rounds of
    keyed join + grouped MIN (lineage truncated per round); one
    grouped 1/d rollup; TakeOrderedAndProject for the top-20."""
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _Q514_MOD == 0)
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    a = li.select("ok", F.col("pk").alias("src"))
    b = li.select(F.col("ok").alias("ok2"), F.col("pk").alias("dst"))
    edges = (
        a.join(b, (a.ok == b.ok2) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    return _q659_card_from_graph(edges, li.select("pk").distinct())


def _q659_card_from_graph(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Sampled-harmonic card over an (edges, nodes) pair — shared by
    the batch lane and the streaming twin's drain."""
    srcs = (
        nodes
        .filter(
            F.substring(
                F.md5(F.concat(F.lit("hc:"), F.col("pk").cast("string"))),
                1,
                1,
            ).isin(*list(_Q659_HEX))
        )
    )
    dist = srcs.select(
        F.col("pk").alias("s"), "pk", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    for _ in range(_Q659_H):
        cand = (
            dist.join(edges, dist.pk == edges.src)
            .select("s", F.col("dst").alias("pk"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("s", "pk")
            .agg(F.min("d").cast("long").alias("d"))
            .localCheckpoint()
        )
    hc = (
        dist.filter(F.col("d") >= 1)
        .groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources_reaching"),
            F.sum(
                F.round(F.lit(1).cast("double") / F.col("d"), 9).cast(
                    "decimal(28,9)"
                )
            )
            .cast("decimal(28,9)")
            .alias("hs"),
        )
    )
    top = hc.orderBy(F.desc("hs"), F.asc("pk")).limit(_Q659_TOP)
    w = Window.orderBy(F.desc("hs"), F.asc("pk"))
    return top.withColumn(
        "rank_pos", F.row_number().over(w).cast("long")
    ).select(
        "rank_pos",
        "pk",
        "n_sources_reaching",
        F.round(F.col("hs").cast("double"), 6).alias("harmonic"),
    )


# ---------------------------------------------------------------------------
# q660 — logistic regression via unrolled exact IRLS (Newton steps)
# ---------------------------------------------------------------------------
#
# Completes the classifier family (NB q623, stump q618, kNN q595) the
# way VERDICT r15 #7 asked: a 2-coefficient logistic model (intercept
# + the q37 quarter-unit quality score) for the en-detector, fit by
# THREE unrolled Newton/IRLS steps.  Per-row sigmoid terms are
# small-magnitude (|t| ≤ 16), 9dp-rounded and decimal-summed (the
# q600 irrational-sum discipline), so each step's five sufficient
# statistics are EXACT decimals on both engines; the 2×2 Newton solve
# and the 9dp-rounded coefficient updates are one shared portable
# expression.  β starts at (0,0) — step 1's weights are exactly 1/4.

_Q660_P = "(1 / (1 + exp(-(b0 + b1 * CAST(x AS DOUBLE)))))"
_Q660_TERMS = {
    "tw": f"round({_Q660_P} * (1 - {_Q660_P}), 9)",
    "twx": f"round({_Q660_P} * (1 - {_Q660_P}) * x, 9)",
    "twxx": f"round({_Q660_P} * (1 - {_Q660_P}) * x * x, 9)",
    "tg": f"round(CAST(y AS DOUBLE) - {_Q660_P}, 9)",
    "tgx": f"round((CAST(y AS DOUBLE) - {_Q660_P}) * x, 9)",
}
_Q660_DET = (
    "(CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)"
    " - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE))"
)
_Q660_B0N = (
    "round(b0 + (CAST(swxx AS DOUBLE) * CAST(sg AS DOUBLE)"
    " - CAST(swx AS DOUBLE) * CAST(sgx AS DOUBLE))"
    f" / {_Q660_DET}, 9)"
)
_Q660_B1N = (
    "round(b1 + (CAST(sw AS DOUBLE) * CAST(sgx AS DOUBLE)"
    " - CAST(swx AS DOUBLE) * CAST(sg AS DOUBLE))"
    f" / {_Q660_DET}, 9)"
)
_Q660_STEPS = 3
_Q660_TLL = (
    f"round(-(CAST(y AS DOUBLE) * ln({_Q660_P})"
    f" + (1 - CAST(y AS DOUBLE)) * ln(1 - {_Q660_P})), 9)"
)


def _q660_oracle() -> str:
    q37 = QUERIES["q37_text_quality"].oracle
    terms = ",\n".join(
        f"                   CAST(SUM(CAST({t} AS DECIMAL(28,9)))"
        f" AS DECIMAL(28,9)) AS s{n[1:]}"
        for n, t in _Q660_TERMS.items()
    )
    chain = [
        f"""base AS MATERIALIZED (
            SELECT CAST(q37.quality_score * 4 AS BIGINT) AS x,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q37 JOIN documents d ON q37.doc_id = d.doc_id
        ),
        c0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1)"""
    ]
    for i in range(1, _Q660_STEPS + 1):
        chain.append(f"""m{i} AS MATERIALIZED (
            SELECT b0, b1,
{terms}
            FROM base, c{i - 1} GROUP BY b0, b1
        ),
        c{i} AS MATERIALIZED (
            SELECT {_Q660_B0N} AS b0, {_Q660_B1N} AS b1 FROM m{i}
        )""")
    joined = ",\n        ".join(chain)
    return f"""
        WITH q37 AS MATERIALIZED ({q37}),
        {joined},
        pred AS (
            SELECT y, (b0 + b1 * CAST(x AS DOUBLE)) > 0 AS yhat,
                   CAST({_Q660_TLL} AS DECIMAL(28,9)) AS tll
            FROM base, c{_Q660_STEPS}
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               (SELECT round(b0, 6) FROM c{_Q660_STEPS}) AS beta0,
               (SELECT round(b1, 6) FROM c{_Q660_STEPS}) AS beta1,
               CAST(SUM(CASE WHEN yhat AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN yhat AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN NOT yhat AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN NOT yhat AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn,
               round(CAST(SUM(CASE WHEN yhat = (y = 1) THEN 1 ELSE 0
                                   END) AS DOUBLE) / COUNT(*), 6)
                   AS accuracy,
               round(CAST(CAST(SUM(tll) AS DECIMAL(28,9)) AS DOUBLE)
                     / COUNT(*), 6) AS log_loss
        FROM pred
    """


@query("q660_logistic_irls", oracle=_q660_oracle(), defer=True)
def q660_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGISTIC REGRESSION by THREE unrolled exact IRLS/Newton steps —
    the calibrated-probability classifier completing the family (NB
    q623, stump q618, kNN q595): intercept + the q37 quarter-unit
    quality score predicting lang='en'.  Each step's five sufficient
    statistics (Σw, Σwx, Σwx², Σ(y−p), Σ(y−p)x with w = p(1−p)) are
    9dp-rounded sigmoid terms decimal-summed (the q600 discipline —
    row-order independent, |t| ≤ 16 so the 9dp position is inside
    double precision); the 2×2 Newton solve and coefficient updates
    are one shared portable expression, 9dp-rounded so step k+1
    starts from bit-identical β on both engines.  Card: β, confusion
    at the 0.5 threshold (logit > 0 — an exact comparison), accuracy,
    and the decimal-summed log-loss.

    Scale shape: the scored corpus collapses to the (x, y)
    CONTINGENCY GRAIN (≤10 cells for the quarter-unit score × binary
    label), so every Newton pass and the confusion card run on the
    bounded grain with count weights — one corpus-sized aggregate
    total, 1-row broadcast β cards."""
    from databricks_etl_spark.operators import text as TX

    d = read_table(spark, sf_dir, "documents")
    grain = (
        TX.quality_features(d)
        .select(
            "doc_id",
            (F.col("quality_score") * 4).cast("long").alias("x"),
        )
        .join(
            d.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            ),
            "doc_id",
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    return _q660_fit_from_grain(grain)


def _q660_fit_from_grain(grain: DataFrame) -> DataFrame:
    """The unrolled IRLS fit + confusion card over an (x, y, ct)
    contingency grain — shared by the batch lane and the streaming
    twin's drain.  ct-weighting each 9dp-rounded term is exactly the
    decimal sum of ct identical terms, so the grain evaluation is
    bit-identical to the row-wise oracle."""
    base = grain.localCheckpoint()
    card = base.sparkSession.createDataFrame(
        [(0.0, 0.0)], "b0 double, b1 double"
    )
    for _ in range(_Q660_STEPS):
        m = (
            base.crossJoin(F.broadcast(card))
            .select(
                "b0",
                "b1",
                *[
                    (F.expr(t).cast("decimal(28,9)") * F.col("ct"))
                    .cast("decimal(28,9)")
                    .alias(n)
                    for n, t in _Q660_TERMS.items()
                ],
            )
            .groupBy("b0", "b1")
            .agg(
                *[
                    F.sum(f"t{n}").cast("decimal(28,9)").alias(f"s{n}")
                    for n in ("w", "wx", "wxx", "g", "gx")
                ]
            )
        )
        card = m.select(
            F.expr(_Q660_B0N).alias("b0"), F.expr(_Q660_B1N).alias("b1")
        )
    pred = base.crossJoin(F.broadcast(card)).select(
        "y",
        "ct",
        (F.col("b0") + F.col("b1") * F.col("x").cast("double") > 0).alias(
            "yhat"
        ),
        (F.expr(_Q660_TLL).cast("decimal(28,9)") * F.col("ct"))
        .cast("decimal(28,9)")
        .alias("tll"),
        "b0",
        "b1",
    )
    ct = F.col("ct")
    return pred.groupBy("b0", "b1").agg(
        F.sum(ct).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("yhat") & (F.col("y") == 1), ct).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("yhat") & (F.col("y") == 0), ct).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("yhat") & (F.col("y") == 1), ct).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("yhat") & (F.col("y") == 0), ct).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.round(
            F.sum(
                F.when(F.col("yhat") == (F.col("y") == 1), ct).otherwise(0)
            ).cast("double")
            / F.sum(ct),
            6,
        ).alias("accuracy"),
        F.round(
            F.sum("tll").cast("decimal(28,9)").cast("double")
            / F.sum(ct),
            6,
        ).alias("log_loss"),
    ).select(
        "n_docs",
        F.round(F.col("b0"), 6).alias("beta0"),
        F.round(F.col("b1"), 6).alias("beta1"),
        "tp",
        "fp",
        "fn",
        "tn",
        "accuracy",
        "log_loss",
    )


# ---------------------------------------------------------------------------
# q661 — classic price indices (Laspeyres / Paasche / Fisher)
# ---------------------------------------------------------------------------
#
# The macro companion to q615's micro price–volume–mix bridge: over
# the matched basket (parts sold in BOTH years), the Laspeyres index
# Σp₁q₀/Σp₀q₀, the Paasche index Σp₁q₁/Σp₀q₁, and Fisher's ideal
# geometric mean.  Unit prices are exact rationals r/q, so the cross
# terms p₁q₀ = r₁q₀/q₁ are scaled to exact integers by a 10⁶
# micro-unit floor division (the q612 wide-integer discipline —
# never a double→DECIMAL(28,9) cast at these magnitudes); the three
# index ratios are one portable expression each.

_Q661_Y0, _Q661_Y1 = 1999, 2000
_Q661_SCALE = 1_000_000

_Q661_L = (
    f"(CAST(sl AS DOUBLE) / (CAST(sr0 AS DOUBLE) * {_Q661_SCALE}))"
)
_Q661_P = (
    f"(CAST(sr1 AS DOUBLE) * {_Q661_SCALE} / CAST(sp AS DOUBLE))"
)


def _q661_oracle() -> str:
    from databricks_etl_spark.plans.queries_round15 import _q612_floordiv

    nl = _q612_floordiv(
        f"CAST(r1 AS HUGEINT) * q0 * {_Q661_SCALE}", "q1", "duckdb"
    )
    dp = _q612_floordiv(
        f"CAST(r0 AS HUGEINT) * q1 * {_Q661_SCALE}", "q0", "duckdb"
    )
    return f"""
        WITH pg AS MATERIALIZED (
            SELECT l_partkey,
                   CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE))
                                      = {_Q661_Y0}
                            THEN CAST(l_quantity AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS q0,
                   CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE))
                                      = {_Q661_Y1}
                            THEN CAST(l_quantity AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS q1,
                   CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE))
                                      = {_Q661_Y0}
                            THEN CAST(round(l_extendedprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS r0,
                   CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE))
                                      = {_Q661_Y1}
                            THEN CAST(round(l_extendedprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS r1
            FROM lineitem
            WHERE l_shipdate >= DATE '{_Q661_Y0}-01-01'
              AND l_shipdate < DATE '{_Q661_Y1 + 1}-01-01'
              AND year(CAST(l_shipdate AS DATE))
                  IN ({_Q661_Y0}, {_Q661_Y1})
            GROUP BY 1
        ),
        matched AS (SELECT * FROM pg WHERE q0 > 0 AND q1 > 0),
        card AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_matched,
                   CAST(SUM(CAST(r0 AS HUGEINT)) AS DECIMAL(38,0))
                       AS sr0,
                   CAST(SUM(CAST(r1 AS HUGEINT)) AS DECIMAL(38,0))
                       AS sr1,
                   CAST(SUM({nl}) AS DECIMAL(38,0)) AS sl,
                   CAST(SUM({dp}) AS DECIMAL(38,0)) AS sp
            FROM matched
        )
        SELECT n_parts_matched,
               CAST(sr0 AS BIGINT) AS base_revenue_cents,
               CAST(sr1 AS BIGINT) AS current_revenue_cents,
               round({_Q661_L}, 6) AS laspeyres,
               round({_Q661_P}, 6) AS paasche,
               round(sqrt({_Q661_L} * {_Q661_P}), 6) AS fisher
        FROM card
    """


@query("q661_price_indices", oracle=_q661_oracle(), defer=True)
def q661_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASPEYRES / PAASCHE / FISHER price indices {_Q661_Y0} →
    {_Q661_Y1} over the matched part basket — the macro price-level
    card beside q615's per-brand bridge.  Cross terms p₁q₀ stay in
    exact integer micro-units via the subtract-remainder floor
    division (``_q612_floordiv`` — identical values to DuckDB's
    HUGEINT ``//``); the index ratios and the Fisher geometric mean
    are shared portable expressions; Laspeyres ≥min/≤max Paasche
    bracketing of Fisher is pinned in tests.

    Scale shape: one lineitem scan with the sargable two-year
    shipdate range pushed to the parquet scan (the q610/q615
    PushedFilters discipline), a part-grain conditional rollup, one
    1-row card."""
    from databricks_etl_spark.plans.queries_round15 import _q612_floordiv

    li = read_table(spark, sf_dir, "lineitem")
    yr = F.year(F.col("l_shipdate").cast("date"))
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty = F.col("l_quantity").cast("long")
    pg = (
        li.filter(
            (F.col("l_shipdate") >= f"{_Q661_Y0}-01-01")
            & (F.col("l_shipdate") < f"{_Q661_Y1 + 1}-01-01")
        )
        .filter(yr.isin(_Q661_Y0, _Q661_Y1))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.when(yr == _Q661_Y0, qty).otherwise(0))
            .cast("long")
            .alias("q0"),
            F.sum(F.when(yr == _Q661_Y1, qty).otherwise(0))
            .cast("long")
            .alias("q1"),
            F.sum(F.when(yr == _Q661_Y0, cents).otherwise(0))
            .cast("long")
            .alias("r0"),
            F.sum(F.when(yr == _Q661_Y1, cents).otherwise(0))
            .cast("long")
            .alias("r1"),
        )
        .filter((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    nl = _q612_floordiv(
        f"CAST(r1 AS DECIMAL(38,0)) * q0 * {_Q661_SCALE}", "q1", "spark"
    )
    dp = _q612_floordiv(
        f"CAST(r0 AS DECIMAL(38,0)) * q1 * {_Q661_SCALE}", "q0", "spark"
    )
    card = pg.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
        F.sum(F.col("r0").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sr0"),
        F.sum(F.col("r1").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sr1"),
        F.sum(F.expr(nl)).cast("decimal(38,0)").alias("sl"),
        F.sum(F.expr(dp)).cast("decimal(38,0)").alias("sp"),
    )
    return card.select(
        "n_parts_matched",
        F.col("sr0").cast("long").alias("base_revenue_cents"),
        F.col("sr1").cast("long").alias("current_revenue_cents"),
        F.round(F.expr(_Q661_L), 6).alias("laspeyres"),
        F.round(F.expr(_Q661_P), 6).alias("paasche"),
        F.round(F.expr(f"sqrt({_Q661_L} * {_Q661_P})"), 6).alias(
            "fisher"
        ),
    )


# ---------------------------------------------------------------------------
# q662 — exact Gini coefficient of customer spend, per nation
# ---------------------------------------------------------------------------
#
# The inequality card completing the concentration family (Theil
# q600/q601, HHI q604, Jain q603): Gini via the rank formula
# G = (2Σᵢ i·x₍ᵢ₎ − (n+1)Σx) / (n·Σx) with x ascending.  Equal
# values make the rank sum order-invariant, so it is computed from
# the VALUE GRAIN: a tied group of count t starting after c members
# contributes x·(2tc + t(t+1)) — all exact integers in
# DECIMAL(38,0); the single ratio is the float edge.

_Q662_G = (
    "round((CAST(s2ix AS DOUBLE)"
    " - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
)


def _q662_oracle() -> str:
    return f"""
        WITH spend AS MATERIALIZED (
            SELECT c.c_nationkey AS nk, o.o_custkey,
                   CAST(SUM(CAST(round(o.o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        grain AS MATERIALIZED (
            SELECT nk, x, CAST(COUNT(*) AS BIGINT) AS t
            FROM spend GROUP BY 1, 2
        ),
        cum AS MATERIALIZED (
            SELECT nk, x, t,
                   CAST(SUM(t) OVER (PARTITION BY nk ORDER BY x
                       ROWS UNBOUNDED PRECEDING) - t AS BIGINT) AS c
            FROM grain
        ),
        card AS (
            SELECT nk,
                   CAST(SUM(t) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * t)
                        AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))
                            * (2 * t * c + t * (t + 1)))
                        AS DECIMAL(38,0)) AS s2ix
            FROM cum GROUP BY 1
        )
        SELECT n.n_name,
               card.n AS n_customers,
               CAST(card.sx AS BIGINT) AS spend_cents,
               {_Q662_G} AS gini
        FROM card JOIN nation n ON card.nk = n.n_nationkey
    """


@query("q662_gini_by_nation", oracle=_q662_oracle(), defer=True)
def q662_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT GINI COEFFICIENT of customer spend within each nation —
    the Lorenz-concentration card beside Theil (q600) and HHI
    (q604).  The rank formula is evaluated from the VALUE GRAIN
    (spend, count): ties make the rank sum order-invariant, so a
    tied group of t members after c lower-spend members contributes
    x·(2tc + t(t+1)) to 2Σi·xᵢ — exact DECIMAL(38,0) end-to-end,
    one portable ratio at the edge.  G ∈ [0, 1−1/n] and the
    all-equal→0 degenerate case are pinned in tests.

    Scale shape: orders⋈customer rollup to (nation, customer); the
    cumulative count runs over the per-nation VALUE GRAIN (bounded
    by distinct spend levels, the q642 CDF discipline); the nation
    name join is dimension-sized (25 rows)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    spend = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nk"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    grain = spend.groupBy("nk", "x").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    w = (
        Window.partitionBy("nk")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grain.withColumn(
        "c", (F.sum("t").over(w) - F.col("t")).cast("long")
    )
    card = cum.groupBy("nk").agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("t"))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * (2 * F.col("t") * F.col("c") + F.col("t") * (F.col("t") + 1))
        )
        .cast("decimal(38,0)")
        .alias("s2ix"),
    )
    return card.join(
        n.select(F.col("n_nationkey").alias("nk"), "n_name"), "nk"
    ).select(
        "n_name",
        F.col("n").alias("n_customers"),
        F.col("sx").cast("long").alias("spend_cents"),
        F.expr(_Q662_G).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q663 — Jensen–Shannon divergence of each source vs the corpus
# ---------------------------------------------------------------------------
#
# The distribution-drift card for ingestion feeds (beside q592's
# token fertility and q623's NB likelihoods): JSD(P_src ‖ P_corpus)
# over whitespace-token unigram distributions.  Probabilities are
# exact rationals tf/tot; each token's contribution
# ½·p·ln(p/m) + ½·q·ln(q/m) (m the mixture) is ≤ ln2 in magnitude —
# 9dp-rounded, decimal-summed (the q600 discipline), one divide at
# the edge.  JSD ∈ [0, ln 2]; /ln2 gives the bits-normalized twin.

_Q663_PP = "(CAST(tf AS DOUBLE) / ts)"
_Q663_QQ = "(CAST(gf AS DOUBLE) / tg)"
_Q663_MM = f"(({_Q663_PP} + {_Q663_QQ}) / 2)"
_Q663_TERM = (
    f"round((CASE WHEN tf > 0 THEN {_Q663_PP}"
    f" * ln({_Q663_PP} / {_Q663_MM}) / 2 ELSE 0 END)"
    f" + {_Q663_QQ} * ln({_Q663_QQ} / {_Q663_MM}) / 2, 9)"
)


def _q663_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _TOKS

    return f"""
        WITH toks AS MATERIALIZED (
            SELECT source, unnest({_TOKS}) AS token FROM documents
        ),
        stf AS MATERIALIZED (
            SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ),
        vocab AS MATERIALIZED (
            SELECT token, CAST(SUM(tf) AS BIGINT) AS gf FROM stf
            GROUP BY 1
        ),
        stot AS MATERIALIZED (
            SELECT source, CAST(SUM(tf) AS BIGINT) AS ts FROM stf
            GROUP BY 1
        ),
        gtot AS MATERIALIZED (
            SELECT CAST(SUM(gf) AS BIGINT) AS tg FROM vocab
        ),
        terms AS (
            SELECT s.source, s.ts,
                   CAST({_Q663_TERM} AS DECIMAL(28,9)) AS term
            FROM stot s
            CROSS JOIN vocab v
            LEFT JOIN stf ON stf.source = s.source
                         AND stf.token = v.token, gtot
        )
        SELECT source,
               CAST(ts AS BIGINT) AS n_tokens,
               round(CAST(CAST(SUM(term) AS DECIMAL(28,9)) AS DOUBLE),
                     6) AS jsd_nats,
               round(CAST(CAST(SUM(term) AS DECIMAL(28,9)) AS DOUBLE)
                     / ln(2), 6) AS jsd_bits
        FROM terms GROUP BY 1, 2
    """


@query("q663_js_divergence_by_source", oracle=_q663_oracle(), defer=True)
def q663_js_divergence_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JENSEN–SHANNON DIVERGENCE of each ingestion feed's token
    distribution against the whole corpus — the symmetric, bounded
    ([0, ln 2]) drift metric a data lead reads before blending a new
    feed.  Token probabilities are exact rationals; per-token
    mixture terms are 9dp-rounded and decimal-summed; a source
    missing a corpus token contributes only the corpus half (the
    CASE guard — JSD never hits the KL infinity).  Bits-normalized
    twin included; JSD bounds pinned in tests.

    Scale shape: one token-grain rollup; the term relation is
    |vocab| × |sources| (sources bounded — the 20-row totals card
    broadcasts); vocab-linear, never pairwise."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens_col("text")).alias("token")
    )
    stf = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    return _q663_card_from_stf(stf)


def _q663_card_from_stf(stf: DataFrame) -> DataFrame:
    """The JSD card over a (source, token, tf) count relation —
    shared by the batch lane and the streaming twin's drain."""
    vocab = stf.groupBy("token").agg(
        F.sum("tf").cast("long").alias("gf")
    )
    stot = stf.groupBy("source").agg(
        F.sum("tf").cast("long").alias("ts")
    )
    gtot = vocab.agg(F.sum("gf").cast("long").alias("tg"))
    terms = (
        vocab.crossJoin(F.broadcast(stot))
        .join(stf, ["source", "token"], "left")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            "ts",
            F.expr(_Q663_TERM).cast("decimal(28,9)").alias("term"),
        )
    )
    return terms.groupBy("source", "ts").agg(
        F.sum("term").cast("decimal(28,9)").alias("s")
    ).select(
        "source",
        F.col("ts").cast("long").alias("n_tokens"),
        F.round(F.col("s").cast("double"), 6).alias("jsd_nats"),
        F.round(F.expr("CAST(s AS DOUBLE) / ln(2)"), 6).alias(
            "jsd_bits"
        ),
    )


# ---------------------------------------------------------------------------
# q664 — Zipf rank–frequency slope of the corpus vocabulary
# ---------------------------------------------------------------------------
#
# The companion scaling law to q644's Heaps fit (the two are
# asymptotically linked): ln-ln OLS of token frequency against
# frequency rank over the full vocabulary.  Ranks come from
# exact_cumsum over the (freq DESC, token ASC) total order — no
# global-sort window; ln terms are small-magnitude, 9dp-rounded,
# decimal-summed; the slope/intercept reuse q644's portable OLS
# templates verbatim.


def _q664_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _TOKS
    from databricks_etl_spark.plans.queries_round15 import (
        _Q644_K,
        _Q644_SLOPE,
    )

    return f"""
        WITH toks AS MATERIALIZED (
            SELECT unnest({_TOKS}) AS token FROM documents
        ),
        tf AS MATERIALIZED (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS f
            FROM toks GROUP BY 1
        ),
        ranked AS MATERIALIZED (
            SELECT f, CAST(row_number() OVER (
                       ORDER BY f DESC, token) AS BIGINT) AS r
            FROM tf
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS np,
                   CAST(SUM(CAST(round(ln(r), 9) AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sx,
                   CAST(SUM(CAST(round(ln(f), 9) AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sy,
                   CAST(SUM(CAST(round(ln(r) * ln(f), 9)
                        AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS sxy,
                   CAST(SUM(CAST(round(ln(r) * ln(r), 9)
                        AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS sxx
            FROM ranked
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
                   CAST(SUM(f) AS BIGINT) AS n_tokens
            FROM tf
        )
        SELECT tot.vocab_size, tot.n_tokens,
               {_Q644_SLOPE} AS zipf_slope,
               {_Q644_K} AS zipf_c
        FROM mom, tot
    """


@query("q664_zipf_slope", oracle=_q664_oracle(), defer=True)
def q664_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF RANK–FREQUENCY SLOPE of the corpus vocabulary — the
    ln-ln OLS fit f(r) ≈ C·r^s over the full token-frequency table,
    the scaling-law twin of q644's Heaps fit (and a negative-slope
    invariant pinned in tests: rank up ⇒ frequency down).  Ranks
    under the (freq DESC, token ASC) total order come from
    exact_cumsum (two-phase range-partitioned — no global window);
    the moments are 9dp-rounded decimal sums; slope and intercept
    reuse q644's portable templates verbatim.

    Scale shape: one token-grain rollup (vocab-bounded), one
    exact_cumsum rank pass, one 1-row OLS card."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round15 import (
        _Q644_K,
        _Q644_SLOPE,
    )

    d = read_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .withColumn("negf", -F.col("f"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = exact_cumsum(tf, ["negf", "token"], "one", out_col="r").select(
        "f", F.col("r").cast("long").alias("r")
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(F.expr("round(ln(r), 9)").cast("decimal(28,9)"))
        .cast("decimal(28,9)")
        .alias("sx"),
        F.sum(F.expr("round(ln(f), 9)").cast("decimal(28,9)"))
        .cast("decimal(28,9)")
        .alias("sy"),
        F.sum(F.expr("round(ln(r) * ln(f), 9)").cast("decimal(28,9)"))
        .cast("decimal(28,9)")
        .alias("sxy"),
        F.sum(F.expr("round(ln(r) * ln(r), 9)").cast("decimal(28,9)"))
        .cast("decimal(28,9)")
        .alias("sxx"),
    )
    tot = tf.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("f").cast("long").alias("n_tokens"),
    )
    return mom.crossJoin(F.broadcast(tot)).select(
        "vocab_size",
        "n_tokens",
        F.expr(_Q644_SLOPE).alias("zipf_slope"),
        F.expr(_Q644_K).alias("zipf_c"),
    )


# ---------------------------------------------------------------------------
# q665 — Mann–Kendall trend test on monthly revenue
# ---------------------------------------------------------------------------
#
# The nonparametric trend complement to q614's ACF and q622's Holt
# fit (public: Mann 1945, Kendall 1975): S = Σ_{i<j} sign(x_j − x_i)
# over the bounded monthly grid, tie-corrected variance
# 18·Var(S) = n(n−1)(2n+5) − Σ_g t(t−1)(2t+5), and the
# continuity-corrected z.  S and 18·Var(S) are exact integers (the
# pair join runs on the ~tens-of-rows month grid); z and the trend
# verdict are one portable expression.

_Q665_Z = (
    "CASE WHEN s = 0 THEN CAST(0 AS DOUBLE)"
    " ELSE (CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))"
    " / sqrt(CAST(v18 AS DOUBLE) / 18) END"
)
_Q665_TREND = (
    f"CASE WHEN {_Q665_Z} > 1.96 THEN 'increasing'"
    f" WHEN {_Q665_Z} < -1.96 THEN 'decreasing'"
    " ELSE 'no_trend' END"
)


def _q665_oracle() -> str:
    return f"""
        WITH monthly AS MATERIALIZED (
            SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT))
                        AS BIGINT) AS s
            FROM monthly a JOIN monthly b ON a.m < b.m
        ),
        ties AS (
            SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                        AS BIGINT) AS tie18
            FROM (
                SELECT CAST(COUNT(*) AS BIGINT) AS t
                FROM monthly GROUP BY x HAVING COUNT(*) > 1
            )
        ),
        nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM monthly
        ),
        card AS (
            SELECT nn.n, pairs.s,
                   CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                        - ties.tie18 AS BIGINT) AS v18
            FROM nn, pairs, ties
        )
        SELECT n AS n_months, s AS s_statistic,
               v18 AS var_s_x18,
               round({_Q665_Z}, 6) AS z_score,
               {_Q665_TREND} AS trend
        FROM card
    """


@query("q665_mann_kendall_trend", oracle=_q665_oracle(), defer=True)
def q665_mann_kendall_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANN–KENDALL TREND TEST on monthly revenue — the rank-based
    trend detector joining the rank-statistics family (q593/q610/
    q611) to the time-series family (q614/q622): exact integer S
    from the sign-pair sum, the tie-corrected 18·Var(S), and the
    continuity-corrected z with a ±1.96 trend verdict.  S and the
    variance are exact BIGINT; z is one shared portable expression
    (the S=0 branch returns literal 0 so no 0/den ulp).

    Scale shape: one orders scan → bounded monthly grid (the q529
    class); the O(grid²) sign-pair join runs on ~tens of rows; the
    tie rollup and the final card are grid-bounded."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
        .alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("x")
    )
    return _q665_card_from_monthly(monthly)


def _q665_card_from_monthly(monthly: DataFrame) -> DataFrame:
    """The Mann–Kendall card over an (m, x) monthly grid — shared by
    the batch lane and the streaming twin's drain."""
    monthly = monthly.localCheckpoint()
    b = monthly.select(
        F.col("m").alias("m2"), F.col("x").alias("x2")
    )
    pairs = (
        monthly.join(b, F.col("m") < F.col("m2"))
        .agg(
            F.sum(F.signum(F.col("x2") - F.col("x")).cast("long"))
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        monthly.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    nn = monthly.agg(F.count(F.lit(1)).cast("long").alias("n"))
    card = (
        nn.crossJoin(pairs)
        .crossJoin(ties)
        .select(
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie18")
            )
            .cast("long")
            .alias("v18"),
        )
    )
    return card.select(
        F.col("n").alias("n_months"),
        F.col("s").alias("s_statistic"),
        F.col("v18").alias("var_s_x18"),
        F.round(F.expr(_Q665_Z), 6).alias("z_score"),
        F.expr(_Q665_TREND).alias("trend"),
    )


# ---------------------------------------------------------------------------
# q666 — Jarque–Bera normality card per return flag
# ---------------------------------------------------------------------------
#
# The distribution-shape diagnostic beside q612's mean test and
# q641's variance test: skewness and excess kurtosis of lineitem
# quantity per return flag from EXACT centered integer moments, and
# the Jarque–Bera statistic JB = n(g1²/6 + (g2−3)²/24) against the
# χ²₂ 95% cut.  The value domain is the small integer quantity
# grain, so all four centered power sums stay exact in
# DECIMAL(38,0) after the integer pre-centering y = x − (Σx DIV n)
# (valid for group sizes up to ~2·10⁷ at the 1..50 domain — beyond
# that, lift to a two-level grain rollup; the bound is documented,
# not silent).

_Q666_A2 = "(nd * s2 - s1 * s1)"
_Q666_A3 = "(nd * nd * s3 - 3 * nd * s2 * s1 + 2 * s1 * s1 * s1)"
_Q666_A4 = (
    "(nd * nd * nd * s4 - 4 * nd * nd * s3 * s1"
    " + 6 * nd * s2 * s1 * s1 - 3 * s1 * s1 * s1 * s1)"
)
_Q666_G1 = (
    f"(CAST({_Q666_A3} AS DOUBLE)"
    f" / pow(CAST({_Q666_A2} AS DOUBLE), 1.5))"
)
_Q666_G2E = (
    f"(CAST({_Q666_A4} AS DOUBLE)"
    f" / (CAST({_Q666_A2} AS DOUBLE) * CAST({_Q666_A2} AS DOUBLE))"
    " - 3)"
)
_Q666_JB = (
    f"(CAST(n AS DOUBLE) * ({_Q666_G1} * {_Q666_G1} / 6"
    f" + {_Q666_G2E} * {_Q666_G2E} / 24))"
)


def _q666_oracle() -> str:
    from databricks_etl_spark.plans.queries_round15 import _q612_floordiv

    c = _q612_floordiv("CAST(sq AS HUGEINT)", "n", "duckdb")
    return f"""
        WITH grain AS MATERIALIZED (
            SELECT l_returnflag AS flag,
                   CAST(l_quantity AS BIGINT) AS v,
                   CAST(COUNT(*) AS BIGINT) AS ct
            FROM lineitem GROUP BY 1, 2
        ),
        g AS MATERIALIZED (
            SELECT flag, CAST(SUM(ct) AS BIGINT) AS n,
                   CAST(SUM(v * ct) AS BIGINT) AS sq
            FROM grain GROUP BY 1
        ),
        cen AS MATERIALIZED (
            SELECT flag, n, CAST({c} AS BIGINT) AS c FROM g
        ),
        mom AS MATERIALIZED (
            SELECT grain.flag, cen.n,
                   CAST(cen.n AS DECIMAL(38,0)) AS nd,
                   CAST(SUM((grain.v - cen.c) * ct)
                        AS DECIMAL(38,0)) AS s1,
                   CAST(SUM((grain.v - cen.c) * (grain.v - cen.c) * ct)
                        AS DECIMAL(38,0)) AS s2,
                   CAST(SUM((grain.v - cen.c) * (grain.v - cen.c)
                            * (grain.v - cen.c) * ct)
                        AS DECIMAL(38,0)) AS s3,
                   CAST(SUM((grain.v - cen.c) * (grain.v - cen.c)
                            * (grain.v - cen.c) * (grain.v - cen.c)
                            * ct) AS DECIMAL(38,0)) AS s4
            FROM grain JOIN cen ON grain.flag = cen.flag
            GROUP BY 1, 2, 3
        )
        SELECT flag AS l_returnflag, n AS n_items,
               round({_Q666_G1}, 6) AS skewness,
               round({_Q666_G2E}, 6) AS excess_kurtosis,
               round({_Q666_JB}, 6) AS jb_statistic,
               {_Q666_JB} > 5.991464547107979 AS normality_rejected
        FROM mom
    """


@query("q666_jarque_bera", oracle=_q666_oracle(), defer=True)
def q666_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE–BERA NORMALITY CARD of order quantity per return flag —
    skewness g1 = A3/A2^1.5 and excess kurtosis g2−3 = A4/A2²−3 from
    EXACT integer centered moments (the n-scaled central sums
    A2 = nΣy²−(Σy)², A3 = n²Σy³−3nΣy²Σy+2(Σy)³, A4 likewise — the
    power cancellations run entirely in DECIMAL(38,0), never through
    a double), then JB = n(g1²/6 + (g2−3)²/24) vs the χ²₂ 95% cut.
    Integer pre-centering on Σx DIV n keeps every power sum inside
    38 digits through ~2·10⁷ rows/group on the 1..50 domain (the
    documented magnitude bound, q622-style).

    Scale shape: one lineitem scan → (flag, quantity) VALUE GRAIN
    (≤50 rows per flag); every power sum and the JB card run on the
    bounded grain."""
    li = read_table(spark, sf_dir, "lineitem")
    grain = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("ct"))
    return _q666_card_from_grain(grain)


def _q666_card_from_grain(grain: DataFrame) -> DataFrame:
    """The Jarque–Bera card over a (flag, v, ct) value grain —
    shared by the batch lane and the streaming twin's drain."""
    from databricks_etl_spark.plans.queries_round15 import _q612_floordiv

    grain = grain.localCheckpoint()
    g = grain.groupBy("flag").agg(
        F.sum("ct").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("ct")).cast("long").alias("sq"),
    )
    cen = g.select(
        "flag",
        "n",
        F.expr(
            _q612_floordiv("CAST(sq AS DECIMAL(38,0))", "n", "spark")
        )
        .cast("long")
        .alias("c"),
    )
    y = F.col("v") - F.col("c")
    yd = y.cast("decimal(38,0)")
    mom = (
        grain.join(cen, "flag")
        .groupBy("flag", "n")
        .agg(
            F.sum(yd * F.col("ct")).cast("decimal(38,0)").alias("s1"),
            F.sum(yd * y * F.col("ct"))
            .cast("decimal(38,0)")
            .alias("s2"),
            F.sum(yd * y * y * F.col("ct"))
            .cast("decimal(38,0)")
            .alias("s3"),
            F.sum(yd * y * y * y * F.col("ct"))
            .cast("decimal(38,0)")
            .alias("s4"),
        )
        .withColumn("nd", F.col("n").cast("decimal(38,0)"))
    )
    return mom.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").alias("n_items"),
        F.round(F.expr(_Q666_G1), 6).alias("skewness"),
        F.round(F.expr(_Q666_G2E), 6).alias("excess_kurtosis"),
        F.round(F.expr(_Q666_JB), 6).alias("jb_statistic"),
        F.expr(f"{_Q666_JB} > 5.991464547107979").alias(
            "normality_rejected"
        ),
    )


# ---------------------------------------------------------------------------
# q667 — process capability (Cp / Cpk) per brand
# ---------------------------------------------------------------------------
#
# The SPC card beside q596's CUSUM: order-quantity capability per
# part brand against literal spec limits [5, 45] — Cp (spread
# capability) and Cpk (centered capability), both from the exact
# integer moment pair (population σ = √(nΣx²−(Σx)²)/n), verdict at
# the conventional 1.33 cut.  All float work is one shared portable
# expression per column.

_Q667_LSL, _Q667_USL = 5, 45
_Q667_SIG = (
    "(sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n)"
)
_Q667_MU = "(CAST(s1 AS DOUBLE) / n)"
_Q667_CP = f"(({_Q667_USL} - {_Q667_LSL}) / (6 * {_Q667_SIG}))"
_Q667_CPK = (
    f"(least({_Q667_USL} - {_Q667_MU}, {_Q667_MU} - {_Q667_LSL})"
    f" / (3 * {_Q667_SIG}))"
)


def _q667_oracle() -> str:
    return f"""
        WITH m AS (
            SELECT p.p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT))
                        AS BIGINT) AS s1,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)
                            * CAST(l.l_quantity AS BIGINT))
                        AS BIGINT) AS s2
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1
        )
        SELECT p_brand, n AS n_items,
               round({_Q667_MU}, 6) AS mean_qty,
               round({_Q667_SIG}, 6) AS sigma_qty,
               round({_Q667_CP}, 6) AS cp,
               round({_Q667_CPK}, 6) AS cpk,
               {_Q667_CPK} >= 1.33 AS capable
        FROM m
    """


@query("q667_process_capability", oracle=_q667_oracle(), defer=True)
def q667_process_capability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROCESS CAPABILITY Cp/Cpk of order quantity per part brand —
    the SPC acceptance card beside q596's CUSUM drift monitor: Cp
    measures spread vs the [{_Q667_LSL}, {_Q667_USL}] spec window,
    Cpk penalizes off-center processes (Cpk ≤ Cp always — pinned in
    tests), verdict at the conventional 1.33 cut.  Population σ from
    the exact integer moment pair; every float column is one shared
    portable expression.

    Scale shape: one lineitem scan with a dimension-sized part join,
    a 25-row brand rollup; no further data movement."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    q = F.col("l_quantity").cast("long")
    m = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(q).cast("long").alias("s1"),
            F.sum(q * q).cast("long").alias("s2"),
        )
    )
    return m.select(
        "p_brand",
        F.col("n").alias("n_items"),
        F.round(F.expr(_Q667_MU), 6).alias("mean_qty"),
        F.round(F.expr(_Q667_SIG), 6).alias("sigma_qty"),
        F.round(F.expr(_Q667_CP), 6).alias("cp"),
        F.round(F.expr(_Q667_CPK), 6).alias("cpk"),
        F.expr(f"{_Q667_CPK} >= 1.33").alias("capable"),
    )


# ---------------------------------------------------------------------------
# q668 — Brown–Forsythe equal-spread test (median-based Levene)
# ---------------------------------------------------------------------------
#
# The robust complement to q641's Bartlett test (which assumes
# normality): one-way ANOVA on absolute deviations from the GROUP
# MEDIAN, z = |x − med|, across the three return flags.  Medians are
# exact half-cent integers (low+high middle order statistics summed,
# so z doubles to stay integral); the ANOVA F reuses q612's exact
# integer-splitting machinery verbatim (sbi/sbf pieces, floor
# divisions in DECIMAL(38,0)/HUGEINT).


def _q668_cards(engine: str) -> dict[str, str]:
    from databricks_etl_spark.plans.queries_round15 import _q612_floordiv

    s2n = _q612_floordiv("s * s", "n", engine)
    ssb = (
        f"(CAST(sbi - {s2n} AS DOUBLE)"
        " + CAST(sbf AS DOUBLE)"
        " - CAST((s * s) % n AS DOUBLE) / n)"
    )
    ssw = "(CAST(q - sbi AS DOUBLE) - CAST(sbf AS DOUBLE))"
    f = f"(({ssb} / (k - 1)) / ({ssw} / (n - k)))"
    return {"f": f"round({f}, 6)", "rej": f"{f} > 2.9957"}


def _q668_oracle() -> str:
    from databricks_etl_spark.plans.queries_round15 import _Q612_FRAC

    e = _q668_cards("duckdb")
    return f"""
        WITH v AS MATERIALIZED (
            SELECT l_returnflag AS grp,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                       AS cents
            FROM lineitem
        ),
        grain AS MATERIALIZED (
            SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS ct
            FROM v GROUP BY 1, 2
        ),
        cdf AS MATERIALIZED (
            SELECT grp, cents, ct,
                   CAST(SUM(ct) OVER (PARTITION BY grp ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM grain
        ),
        gn AS MATERIALIZED (
            SELECT grp, CAST(SUM(ct) AS BIGINT) AS n_g
            FROM grain GROUP BY 1
        ),
        med AS MATERIALIZED (
            SELECT gn.grp,
                   CAST((SELECT MIN(cents) FROM cdf
                         WHERE cdf.grp = gn.grp
                           AND cdf.cum >= (gn.n_g + 1) // 2)
                        + (SELECT MIN(cents) FROM cdf
                           WHERE cdf.grp = gn.grp
                             AND cdf.cum >= gn.n_g // 2 + 1)
                        AS BIGINT) AS med2
            FROM gn
        ),
        z AS MATERIALIZED (
            SELECT v.grp, abs(2 * v.cents - med.med2) AS z
            FROM v JOIN med ON v.grp = med.grp
        ),
        g AS MATERIALIZED (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(z) AS BIGINT) AS sg
            FROM z GROUP BY 1
        ),
        g2 AS MATERIALIZED (
            SELECT grp, ng, sg,
                   CAST(CAST(sg AS HUGEINT) * sg // ng
                        AS DECIMAL(38,0)) AS dg,
                   CAST(CAST(sg AS HUGEINT) * sg % ng AS BIGINT) AS rg
            FROM g
        ),
        tots AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(sg) AS HUGEINT) AS s,
                   CAST(SUM(CAST(dg AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS sbi,
                   CAST(SUM(CAST({_Q612_FRAC} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sbf
            FROM g2
        ),
        qq AS (
            SELECT CAST(SUM(CAST(z AS DECIMAL(38,0)) * z)
                        AS DECIMAL(38,0)) AS q
            FROM z
        ),
        meds AS (
            SELECT MAX(CASE WHEN grp = 'A' THEN med2 END) AS med2_a,
                   MAX(CASE WHEN grp = 'N' THEN med2 END) AS med2_n,
                   MAX(CASE WHEN grp = 'R' THEN med2 END) AS med2_r
            FROM med
        )
        SELECT k AS k_groups, n AS n_rows,
               meds.med2_a, meds.med2_n, meds.med2_r,
               {e["f"]} AS bf_f_stat,
               {e["rej"]} AS equal_spread_rejected
        FROM tots, qq, meds
    """


@query("q668_brown_forsythe", oracle=_q668_oracle(), defer=True)
def q668_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN–FORSYTHE equal-spread test of extended price across the
    three return flags — the median-based Levene variant that stays
    valid off-normal (the robust complement to q641's Bartlett):
    z = |2x − med2| in doubled cents (med2 = low+high middle order
    statistics, an exact integer even for even groups), then q612's
    exact integer-split one-way ANOVA on z, F against the χ²-level
    2.9957 cut (F(2,∞) at 95%).

    Scale shape: per-group medians come from ONE exact_cumsum pass
    over the (group, value) GRAIN — the global kernel's cumulative
    minus each group's exclusive offset gives every per-group CDF
    without a per-group sort or a global window; the z relation is
    one scan-shaped join against the 3-row median card; the ANOVA
    runs on 3-row/1-row cards."""
    li = read_table(spark, sf_dir, "lineitem")
    grain = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    ).groupBy("grp", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    return _q668_card_from_grain(grain)


def _q668_card_from_grain(grain: DataFrame) -> DataFrame:
    """The Brown–Forsythe card over a (grp, cents, ct) value grain —
    shared by the batch lane and the streaming twin's drain.  All z
    statistics are ct-weighted grain sums, exactly equal to the
    row-wise oracle sums."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum
    from databricks_etl_spark.plans.queries_round15 import (
        _Q612_FRAC,
        _q612_floordiv,
    )

    e = _q668_cards("spark")
    grain = grain.localCheckpoint()
    cdf = exact_cumsum(grain, ["grp", "cents"], "ct", out_col="gcum")
    off = cdf.groupBy("grp").agg(
        F.min(F.col("gcum") - F.col("ct")).cast("decimal(38,0)").alias(
            "off"
        ),
        F.sum("ct").cast("long").alias("n_g"),
    )
    cdf2 = cdf.join(F.broadcast(off), "grp").select(
        "grp",
        "cents",
        (F.col("gcum") - F.col("off")).cast("long").alias("cum"),
        "n_g",
    )
    k1 = (F.col("n_g") + 1) / 2
    v1 = (
        cdf2.filter(F.col("cum") >= F.floor(k1))
        .groupBy("grp")
        .agg(F.min("cents").alias("m1"))
    )
    v2 = (
        cdf2.filter(F.col("cum") >= F.expr("n_g DIV 2 + 1"))
        .groupBy("grp")
        .agg(F.min("cents").alias("m2"))
    )
    med = v1.join(v2, "grp").select(
        "grp", (F.col("m1") + F.col("m2")).cast("long").alias("med2")
    )
    z = grain.join(F.broadcast(med), "grp").select(
        "grp",
        "ct",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("z"),
    )
    g2 = (
        z.groupBy("grp")
        .agg(
            F.sum("ct").cast("long").alias("ng"),
            F.sum(F.col("z") * F.col("ct")).cast("long").alias("sg"),
        )
        .select(
            "grp",
            "ng",
            F.col("sg").cast("decimal(38,0)").alias("sg"),
            F.expr(
                _q612_floordiv("CAST(sg AS DECIMAL(38,0)) * sg", "ng",
                               "spark")
            ).alias("dg"),
            F.expr("(CAST(sg AS DECIMAL(38,0)) * sg) % ng")
            .cast("long")
            .alias("rg"),
        )
    )
    tots = g2.select(
        "ng",
        "sg",
        "dg",
        F.expr(_Q612_FRAC).cast("decimal(28,9)").alias("frac"),
    ).agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sg").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("dg").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sbi"),
        F.sum("frac").cast("decimal(28,9)").alias("sbf"),
    )
    qq = z.agg(
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z") * F.col("ct"))
        .cast("decimal(38,0)")
        .alias("q")
    )
    meds = med.agg(
        F.max(F.when(F.col("grp") == "A", F.col("med2"))).alias(
            "med2_a"
        ),
        F.max(F.when(F.col("grp") == "N", F.col("med2"))).alias(
            "med2_n"
        ),
        F.max(F.when(F.col("grp") == "R", F.col("med2"))).alias(
            "med2_r"
        ),
    )
    return (
        tots.crossJoin(qq)
        .crossJoin(F.broadcast(meds))
        .select(
            F.col("k").alias("k_groups"),
            F.col("n").alias("n_rows"),
            "med2_a",
            "med2_n",
            "med2_r",
            F.expr(e["f"]).alias("bf_f_stat"),
            F.expr(e["rej"]).alias("equal_spread_rejected"),
        )
    )


# ===========================================================================
# Streaming twins (q669-q676) — epoch-idempotent partial landing + the
# shared-card drains (the q576/q583/q627 discipline).  Each twin slices
# the fact table into _r13._STREAM_EPOCHS batches (read at call time so
# the hostile-slicing tests can raise it), lands ADDITIVE partials into
# a per-epoch parquet partition (dynamic overwrite = exactly-once per
# epoch), merges the landed grain, and re-runs the SAME card helper as
# its batch primary — so drain ≡ batch under ANY slicing, and the twin
# registers the primary's oracle verbatim.
# ===========================================================================


@query(
    "q669_streaming_ar2_backtest",
    oracle=QUERIES["q657_ar2_backtest"].oracle,
    defer=True,
)
def q669_streaming_ar2_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q657's AR(2) backtest under STREAMING order arrival — daily
    revenue partials are additive, so each epoch lands its (day,
    cents) partial sums and the drain merges days before re-running
    the shared Yule–Walker/backtest card.  Drain ≡ q657 under ANY
    order-grain slicing (a day's revenue may split across epochs;
    the day-grain merge repairs it).

    Scale shape: per-epoch partial rollup; the drain is q657's
    bounded-grid card."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    path = fresh_scratch_dir("ar2_stream_", key=sf_dir) + "/daily"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                )
                .cast("long")
                .alias("x")
            )
        )
        sinks.land(part, ep, path)
    daily = (
        sinks.landed(spark, path, "d date, x long")
        .groupBy("d")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    return _q657_card_from_daily(daily)


@query(
    "q670_streaming_semantic_decontamination",
    oracle=QUERIES["q658_semantic_decontamination"].oracle,
    defer=True,
)
def q670_streaming_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q658's semantic decontamination under STREAMING embedding
    arrival — cell assignment is a pure per-vector function, so each
    epoch lands its slice's assigned cells and the drain re-runs the
    cell-blocked verify + per-source card over the landed index
    (the q287 incremental-SemDeDup landing shape).  Drain ≡ q658
    under ANY vec-grain slicing; the documents source map is
    dimension-side metadata read at drain time.

    Scale shape: per-epoch work is the slice's 8-centroid argmin;
    the drain is q658's cell-blocked join."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    from databricks_etl_spark.operators import similarity as SIM
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings").localCheckpoint()
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    path = fresh_scratch_dir("semdecon_stream_", key=sf_dir) + "/cells"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = SIM.assign_cells(
            e.filter(F.col("vec_id") % k == ep), cents
        )
        sinks.land(part, ep, path)
    cells = (
        sinks.landed(
            spark,
            path,
            "vec_id long, embedding array<double>, cell_id int",
        )
        .select("vec_id", "embedding", "cell_id")
        .localCheckpoint()
    )
    return _q658_card_from_cells(cells, d)


@query(
    "q671_streaming_harmonic_centrality",
    oracle=QUERIES["q659_harmonic_centrality_sampled"].oracle,
    defer=True,
)
def q671_streaming_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q659's sampled harmonic centrality under STREAMING edge
    arrival — centrality is a GLOBAL graph property, so each epoch
    lands its batch-local co-order edges + node grain (q627's
    graph-grain ingest: orders are atomic per epoch, so edges are
    batch-local) and the drain re-runs the multi-source BFS over the
    full landed graph.  Drain ≡ q659 under ANY order-grain slicing.

    Scale shape: per-epoch state is the batch's own distinct edges;
    the drain is q659's bounded-hop loop."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD
    from databricks_etl_spark.plans.queries_round15 import _q627_ingest

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _Q514_MOD == 0)
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint()
    )
    path = fresh_scratch_dir("harm_stream_", key=sf_dir) + "/state"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        _q627_ingest(
            li.filter(F.expr(f"ok DIV {_Q514_MOD}") % k == ep), ep, path
        )
    edges = (
        sinks.landed(spark, f"{path}/edges", "src long, dst long")
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        sinks.landed(spark, f"{path}/nodes", "pk long")
        .select("pk")
        .distinct()
    )
    return _q659_card_from_graph(edges, nodes)


@query(
    "q672_streaming_logistic_irls",
    oracle=QUERIES["q660_logistic_irls"].oracle,
    defer=True,
)
def q672_streaming_logistic_irls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q660's IRLS logistic fit under STREAMING document arrival —
    the model's sufficient statistics live on the (x, y) contingency
    grain, whose counts are additive, so each epoch lands its
    slice's grain partials and the drain merges cells before
    re-running the shared Newton card.  Drain ≡ q660 under ANY
    doc-grain slicing.

    Scale shape: per-epoch work is the slice's quality scoring; the
    drain runs on the ≤10-cell merged grain."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    from databricks_etl_spark.operators import text as TX

    d = read_table(spark, sf_dir, "documents").localCheckpoint()
    path = fresh_scratch_dir("irls_stream_", key=sf_dir) + "/grain"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        sl = d.filter(F.col("doc_id") % k == ep)
        part = (
            TX.quality_features(sl)
            .select(
                "doc_id",
                (F.col("quality_score") * 4).cast("long").alias("x"),
            )
            .join(
                sl.select(
                    "doc_id",
                    F.when(F.col("lang") == "en", 1)
                    .otherwise(0)
                    .alias("y"),
                ),
                "doc_id",
            )
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("ct"))
        )
        sinks.land(part, ep, path)
    grain = (
        sinks.landed(spark, path, "x long, y int, ct long")
        .groupBy("x", "y")
        .agg(F.sum("ct").cast("long").alias("ct"))
    )
    return _q660_fit_from_grain(grain)


@query(
    "q673_streaming_js_divergence",
    oracle=QUERIES["q663_js_divergence_by_source"].oracle,
    defer=True,
)
def q673_streaming_js_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q663's Jensen–Shannon drift card under STREAMING document
    arrival — token counts are additive, so each epoch lands its
    slice's (source, token, tf) partials and the drain merges before
    re-running the shared JSD card.  Drain ≡ q663 under ANY
    doc-grain slicing.

    Scale shape: per-epoch tokenize + rollup; the drain runs on the
    vocab-bounded merged count relation."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents").localCheckpoint()
    path = fresh_scratch_dir("jsd_stream_", key=sf_dir) + "/stf"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            d.filter(F.col("doc_id") % k == ep)
            .select(
                "source", F.explode(tokens_col("text")).alias("token")
            )
            .groupBy("source", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        sinks.land(part, ep, path)
    stf = (
        sinks.landed(spark, path, "source string, token string, tf long")
        .groupBy("source", "token")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    return _q663_card_from_stf(stf)


@query(
    "q674_streaming_mann_kendall",
    oracle=QUERIES["q665_mann_kendall_trend"].oracle,
    defer=True,
)
def q674_streaming_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q665's Mann–Kendall trend test under STREAMING order arrival —
    monthly revenue partials are additive, so each epoch lands its
    (month, cents) partials and the drain merges months before
    re-running the shared sign-pair card.  Drain ≡ q665 under ANY
    order-grain slicing.

    Scale shape: per-epoch partial rollup; the drain is q665's
    bounded-grid pair join."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    path = fresh_scratch_dir("mk_stream_", key=sf_dir) + "/monthly"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .groupBy(
                F.date_format(
                    F.col("o_orderdate").cast("date"), "yyyy-MM"
                ).alias("m")
            )
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                )
                .cast("long")
                .alias("x")
            )
        )
        sinks.land(part, ep, path)
    monthly = (
        sinks.landed(spark, path, "m string, x long")
        .groupBy("m")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    return _q665_card_from_monthly(monthly)


@query(
    "q675_streaming_jarque_bera",
    oracle=QUERIES["q666_jarque_bera"].oracle,
    defer=True,
)
def q675_streaming_jarque_bera(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q666's Jarque–Bera normality card under STREAMING lineitem
    arrival — the (flag, quantity) value-grain counts are additive,
    so each epoch lands its grain partials and the drain merges
    cells before re-running the shared centered-moment card.
    Drain ≡ q666 under ANY lineitem-grain slicing.

    Scale shape: per-epoch grain rollup; the drain runs on the ≤50
    cells/flag merged grain."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    li = read_table(spark, sf_dir, "lineitem").localCheckpoint()
    path = fresh_scratch_dir("jb_stream_", key=sf_dir) + "/grain"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            li.filter(F.col("l_orderkey") % k == ep)
            .groupBy(
                F.col("l_returnflag").alias("flag"),
                F.col("l_quantity").cast("long").alias("v"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("ct"))
        )
        sinks.land(part, ep, path)
    grain = (
        sinks.landed(spark, path, "flag string, v long, ct long")
        .groupBy("flag", "v")
        .agg(F.sum("ct").cast("long").alias("ct"))
    )
    return _q666_card_from_grain(grain)


@query(
    "q676_streaming_brown_forsythe",
    oracle=QUERIES["q668_brown_forsythe"].oracle,
    defer=True,
)
def q676_streaming_brown_forsythe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q668's Brown–Forsythe equal-spread test under STREAMING
    lineitem arrival — the (flag, cents) value-grain counts are
    additive, so each epoch lands its grain partials and the drain
    merges before re-running the shared median + integer-split
    ANOVA card.  Drain ≡ q668 under ANY lineitem-grain slicing (a
    price level's count may split across epochs; the grain merge
    repairs it).

    Scale shape: per-epoch grain rollup; the drain is q668's
    exact_cumsum median pass + 3-row ANOVA cards."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    li = read_table(spark, sf_dir, "lineitem").localCheckpoint()
    path = fresh_scratch_dir("bf_stream_", key=sf_dir) + "/grain"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            li.filter(F.col("l_orderkey") % k == ep)
            .select(
                F.col("l_returnflag").alias("grp"),
                F.round(F.col("l_extendedprice") * 100, 0)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("grp", "cents")
            .agg(F.count(F.lit(1)).cast("long").alias("ct"))
        )
        sinks.land(part, ep, path)
    grain = (
        sinks.landed(spark, path, "grp string, cents long, ct long")
        .groupBy("grp", "cents")
        .agg(F.sum("ct").cast("long").alias("ct"))
    )
    return _q668_card_from_grain(grain)


# ---------------------------------------------------------------------------
# q677 — two-sample Kolmogorov–Smirnov test (exact integer D)
# ---------------------------------------------------------------------------
#
# The distribution-equality test completing the nonparametric family
# (Mann–Whitney q593 tests location, Brown–Forsythe q668 spread —
# KS tests the WHOLE ECDF): D = max |F_A(x) − F_R(x)| over returned
# (R) vs refunded-window (A) extended prices.  The ECDF difference
# is maximized in EXACT INTEGERS — |ca·n_r − cr·n_a| with ca/cr the
# cumulative grain counts — so the argmax and the tie-broken witness
# value can never flip on a float ulp; D and the 95% critical value
# are portable edges.

_Q677_D = "round(CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * nr), 6)"
_Q677_CRIT = (
    "(1.358 * sqrt((CAST(na AS DOUBLE) + nr)"
    " / (CAST(na AS DOUBLE) * nr)))"
)


def _q677_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT l_returnflag AS flag,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                       AS cents
            FROM lineitem WHERE l_returnflag IN ('A', 'R')
        ),
        grain AS MATERIALIZED (
            SELECT cents,
                   CAST(SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cta,
                   CAST(SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ctr
            FROM v GROUP BY 1
        ),
        cum AS MATERIALIZED (
            SELECT cents,
                   CAST(SUM(cta) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
                   CAST(SUM(ctr) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cr
            FROM grain
        ),
        nn AS (
            SELECT CAST(SUM(cta) AS BIGINT) AS na,
                   CAST(SUM(ctr) AS BIGINT) AS nr
            FROM grain
        ),
        diffs AS (
            SELECT cents,
                   abs(CAST(ca AS DECIMAL(38,0)) * nn.nr
                       - CAST(cr AS DECIMAL(38,0)) * nn.na) AS dn
            FROM cum, nn
        ),
        best AS (
            SELECT CAST(MAX(dn) AS DECIMAL(38,0)) AS dnum FROM diffs
        ),
        wit AS (
            SELECT CAST(MIN(cents) AS BIGINT) AS d_at_cents
            FROM diffs, best WHERE diffs.dn = best.dnum
        )
        SELECT nn.na AS n_a, nn.nr AS n_r,
               wit.d_at_cents,
               {_Q677_D} AS d_stat,
               round({_Q677_CRIT}, 6) AS crit_95,
               {_Q677_D.replace(", 6)", ", 9)")}
                   > {_Q677_CRIT} AS equal_dist_rejected
        FROM nn, best, wit
    """


@query("q677_ks_two_sample", oracle=_q677_oracle(), defer=True)
def q677_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV–SMIRNOV test of extended price between
    return flags A and R — the whole-distribution equality test
    beside Mann–Whitney (location, q593) and Brown–Forsythe (spread,
    q668).  The ECDF gap is maximized as the EXACT INTEGER
    |ca·n_r − cr·n_a| over the merged value grain (cumulatives from
    two exact_cumsum passes — no global window), with the witness
    value tie-broken MIN; only the final D ratio and the 1.358
    critical edge are floats, evaluated from identical exact
    integers on both engines.

    Scale shape: one lineitem scan → value grain; two range-
    partitioned cumulative passes; a 1-row max/argmax card."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    li = read_table(spark, sf_dir, "lineitem")
    v = li.filter(F.col("l_returnflag").isin("A", "R")).select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )
    grain = v.groupBy("cents").agg(
        F.sum(F.when(F.col("flag") == "A", 1).otherwise(0))
        .cast("long")
        .alias("cta"),
        F.sum(F.when(F.col("flag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("ctr"),
    )
    return _q677_card_from_grain(grain)


def _q677_card_from_grain(grain: DataFrame) -> DataFrame:
    """The KS card over a (cents, cta, ctr) value grain — shared by
    the batch lane and the streaming twin's drain."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    c1 = exact_cumsum(grain, ["cents"], "cta", out_col="ca")
    cum = exact_cumsum(c1, ["cents"], "ctr", out_col="cr")
    nn = grain.agg(
        F.sum("cta").cast("long").alias("na"),
        F.sum("ctr").cast("long").alias("nr"),
    )
    diffs = cum.crossJoin(F.broadcast(nn)).select(
        "cents",
        F.abs(
            F.col("ca").cast("decimal(38,0)") * F.col("nr")
            - F.col("cr").cast("decimal(38,0)") * F.col("na")
        ).alias("dn"),
    )
    best = diffs.agg(F.max("dn").cast("decimal(38,0)").alias("dnum"))
    wit = (
        diffs.join(F.broadcast(best), diffs.dn == F.col("dnum"))
        .agg(F.min("cents").cast("long").alias("d_at_cents"))
    )
    return (
        nn.crossJoin(best)
        .crossJoin(wit)
        .select(
            F.col("na").alias("n_a"),
            F.col("nr").alias("n_r"),
            "d_at_cents",
            F.expr(_Q677_D).alias("d_stat"),
            F.round(F.expr(_Q677_CRIT), 6).alias("crit_95"),
            F.expr(
                f"{_Q677_D.replace(', 6)', ', 9)')} > {_Q677_CRIT}"
            ).alias("equal_dist_rejected"),
        )
    )


# ---------------------------------------------------------------------------
# q678 — Friedman test (paired ranks across k treatments)
# ---------------------------------------------------------------------------
#
# The PAIRED k-treatment rank test the family still lacked
# (Kruskal–Wallis q611 is unpaired; Wilcoxon q610 is k=2): blocks =
# nations, treatments = years 1998/1999/2000, value = the nation's
# revenue that year.  Within-block average ranks are exact in
# DOUBLED units r2 = 2L + E + 1 (L strictly-below count, E tie
# count); the tie-robust statistic
# χ² = (k−1)·Σ_j (R2_j − n(k+1))² / (Σ r2² − n·k·(k+1)²)
# is a ratio of exact integers.

_Q678_YEARS = (1998, 1999, 2000)
_Q678_CHI2 = (
    "round((CAST(k AS DOUBLE) - 1) * CAST(num AS DOUBLE)"
    " / CAST(den AS DOUBLE), 6)"
)


def _q678_oracle() -> str:
    y0, y1 = _Q678_YEARS[0], _Q678_YEARS[-1]
    cols = ", ".join(
        f"""CAST(SUM(CASE WHEN yr = {y}
                THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS x{y}"""
        for y in _Q678_YEARS
    )
    unp = ", ".join(f"({y}, x{y})" for y in _Q678_YEARS)
    rsums = ",\n".join(
        f"""               CAST(SUM(CASE WHEN yr = {y} THEN r2
                    ELSE 0 END) AS BIGINT) AS r2_{y}"""
        for y in _Q678_YEARS
    )
    return f"""
        WITH o AS MATERIALIZED (
            SELECT o_custkey, year(CAST(o_orderdate AS DATE)) AS yr,
                   o_totalprice
            FROM orders
            WHERE o_orderdate >= DATE '{y0}-01-01'
              AND o_orderdate < DATE '{y1 + 1}-01-01'
        ),
        blocks AS MATERIALIZED (
            SELECT c.c_nationkey AS nk, {cols}
            FROM o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        ),
        lng AS MATERIALIZED (
            SELECT nk, yr, x FROM (
                SELECT nk, unnest([{unp.replace('(', 'ROW(')}])
                    AS u
                FROM blocks
            ) t(nk, u), LATERAL (SELECT u[1] AS yr, u[2] AS x) s
        ),
        ranked AS MATERIALIZED (
            SELECT a.nk, a.yr,
                   CAST(2 * SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
                        + SUM(CASE WHEN b.x = a.x AND b.yr <> a.yr
                              THEN 1 ELSE 0 END) + 2 AS BIGINT) AS r2
            FROM lng a JOIN lng b ON a.nk = b.nk
            GROUP BY 1, 2, a.x
        ),
        sums AS MATERIALIZED (
            SELECT
{rsums},
               CAST(SUM(r2 * r2) AS BIGINT) AS sr2sq,
               CAST(COUNT(DISTINCT nk) AS BIGINT) AS n,
               CAST(3 AS BIGINT) AS k
            FROM ranked
        ),
        card AS (
            SELECT n, k, r2_{_Q678_YEARS[0]}, r2_{_Q678_YEARS[1]},
                   r2_{_Q678_YEARS[2]},
                   CAST({" + ".join(
                       f"(r2_{y} - n * (k + 1))"
                       f" * (r2_{y} - n * (k + 1))"
                       for y in _Q678_YEARS
                   )} AS BIGINT) AS num,
                   CAST(sr2sq - n * k * (k + 1) * (k + 1)
                        AS BIGINT) AS den
            FROM sums
        )
        SELECT n AS n_blocks, k AS k_treatments,
               r2_{_Q678_YEARS[0]} AS rank2_sum_y0,
               r2_{_Q678_YEARS[1]} AS rank2_sum_y1,
               r2_{_Q678_YEARS[2]} AS rank2_sum_y2,
               {_Q678_CHI2} AS friedman_chi2,
               {_Q678_CHI2.replace(", 6)", ", 9)")} > 5.991464547107979
                   AS treatment_effect_rejected_null
        FROM card
    """


@query("q678_friedman_test", oracle=_q678_oracle(), defer=True)
def q678_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN paired-rank test of year effects on national revenue —
    the PAIRED k-treatment rung the rank family lacked (q611 is the
    unpaired analogue, q610 the k=2 pair): blocks = 25 nations,
    treatments = three years, within-block average ranks exact in
    DOUBLED units (r2 = 2L + E + 1 — ties make the doubled rank an
    integer), and the tie-robust χ² as a pure integer ratio with the
    5.991 (χ²₂, 95%) verdict.

    Scale shape: one year-windowed orders scan (sargable range) →
    25-block pivot; ranks from a k²-per-block self-join on the
    bounded block relation; 1-row card."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    y0, y1 = _Q678_YEARS[0], _Q678_YEARS[-1]
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    blocks = (
        o.filter(
            (F.col("o_orderdate") >= f"{y0}-01-01")
            & (F.col("o_orderdate") < f"{y1 + 1}-01-01")
        )
        .join(c.select("c_custkey", "c_nationkey"),
              o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            *[
                F.sum(F.when(yr == y, cents).otherwise(0))
                .cast("long")
                .alias(f"x{y}")
                for y in _Q678_YEARS
            ]
        )
    )
    return _q678_card_from_blocks(blocks)


def _q678_card_from_blocks(blocks: DataFrame) -> DataFrame:
    """The Friedman card over an (nk, x1998, x1999, x2000) block
    pivot — shared by the batch lane and the streaming twin's
    drain."""
    lng = blocks.select(
        "nk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(y).alias("yr"), F.col(f"x{y}").alias("x")
                    )
                    for y in _Q678_YEARS
                ]
            )
        ).alias("u"),
    ).select("nk", F.col("u.yr").alias("yr"), F.col("u.x").alias("x"))
    b = lng.select(
        F.col("nk").alias("nk2"),
        F.col("yr").alias("yr2"),
        F.col("x").alias("x2"),
    )
    ranked = (
        lng.join(b, F.col("nk") == F.col("nk2"))
        .groupBy("nk", "yr", "x")
        .agg(
            (
                2 * F.sum(F.when(F.col("x2") < F.col("x"), 1).otherwise(0))
                + F.sum(
                    F.when(
                        (F.col("x2") == F.col("x"))
                        & (F.col("yr2") != F.col("yr")),
                        1,
                    ).otherwise(0)
                )
                + 2
            )
            .cast("long")
            .alias("r2")
        )
    )
    sums = ranked.agg(
        *[
            F.sum(F.when(F.col("yr") == y, F.col("r2")).otherwise(0))
            .cast("long")
            .alias(f"r2_{y}")
            for y in _Q678_YEARS
        ],
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("sr2sq"),
        F.countDistinct("nk").cast("long").alias("n"),
        F.lit(3).cast("long").alias("k"),
    )
    num = " + ".join(
        f"(r2_{y} - n * (k + 1)) * (r2_{y} - n * (k + 1))"
        for y in _Q678_YEARS
    )
    card = sums.select(
        "n",
        "k",
        *[F.col(f"r2_{y}") for y in _Q678_YEARS],
        F.expr(num).cast("long").alias("num"),
        F.expr("sr2sq - n * k * (k + 1) * (k + 1)")
        .cast("long")
        .alias("den"),
    )
    return card.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.col(f"r2_{_Q678_YEARS[0]}").alias("rank2_sum_y0"),
        F.col(f"r2_{_Q678_YEARS[1]}").alias("rank2_sum_y1"),
        F.col(f"r2_{_Q678_YEARS[2]}").alias("rank2_sum_y2"),
        F.expr(_Q678_CHI2).alias("friedman_chi2"),
        F.expr(
            f"{_Q678_CHI2.replace(', 6)', ', 9)')} > 5.991464547107979"
        ).alias("treatment_effect_rejected_null"),
    )


# ---------------------------------------------------------------------------
# q679 — Cochran's Q test (paired binary outcomes across k periods)
# ---------------------------------------------------------------------------
#
# The binary sibling of the Friedman test: did customers' propensity
# to order CHANGE across 1998/1999/2000?  Per customer a binary
# ordered-that-year indicator; Q = (k−1)(k·ΣC_j² − N²)/(k·N − ΣR_i²)
# — all exact integers (C_j column totals, R_i row totals, N grand
# total), one portable ratio, χ²₂ verdict.

_Q679_Q = (
    "round((CAST(k AS DOUBLE) - 1)"
    " * (CAST(k AS DOUBLE) * CAST(csq AS DOUBLE)"
    " - CAST(nn AS DOUBLE) * nn)"
    " / (CAST(k AS DOUBLE) * nn - CAST(rsq AS DOUBLE)), 6)"
)


def _q679_oracle() -> str:
    y0, y1 = _Q678_YEARS[0], _Q678_YEARS[-1]
    bcols = ", ".join(
        f"""MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = {y}
             THEN 1 ELSE 0 END) AS b{y}"""
        for y in _Q678_YEARS
    )
    return f"""
        WITH rows_ AS MATERIALIZED (
            SELECT o_custkey, {bcols}
            FROM orders
            WHERE o_orderdate >= DATE '{y0}-01-01'
              AND o_orderdate < DATE '{y1 + 1}-01-01'
            GROUP BY 1
        ),
        card AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(3 AS BIGINT) AS k,
                   CAST({" + ".join(f"SUM(b{y})" for y in _Q678_YEARS)}
                        AS BIGINT) AS nn,
                   CAST({" + ".join(
                       f"SUM(b{y}) * SUM(b{y})" for y in _Q678_YEARS
                   )} AS BIGINT) AS csq,
                   CAST(SUM(({" + ".join(
                       f"b{y}" for y in _Q678_YEARS
                   )}) * ({" + ".join(
                       f"b{y}" for y in _Q678_YEARS
                   )})) AS BIGINT) AS rsq
            FROM rows_
        )
        SELECT n_customers, k AS k_periods, nn AS n_successes,
               {_Q679_Q} AS cochran_q,
               {_Q679_Q.replace(", 6)", ", 9)")} > 5.991464547107979
                   AS propensity_change_rejected_null
        FROM card
    """


@query("q679_cochran_q", oracle=_q679_oracle(), defer=True)
def q679_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q test of ordering propensity across three years —
    the PAIRED BINARY member of the k-treatment family (Friedman
    q678 ranks magnitudes; this tests the 0/1 ordered-at-all
    outcome).  Column totals, row-total squares and the grand total
    are exact integers from one grouped pass; Q is a single portable
    ratio with the χ²₂ 95% verdict.  All-zero rows drop out of both
    numerator and denominator identically on both engines.

    Scale shape: one year-windowed orders scan (sargable range) →
    per-customer indicator rollup → 1-row card."""
    o = read_table(spark, sf_dir, "orders")
    y0, y1 = _Q678_YEARS[0], _Q678_YEARS[-1]
    yr = F.year(F.col("o_orderdate").cast("date"))
    rows = (
        o.filter(
            (F.col("o_orderdate") >= f"{y0}-01-01")
            & (F.col("o_orderdate") < f"{y1 + 1}-01-01")
        )
        .groupBy("o_custkey")
        .agg(
            *[
                F.max(F.when(yr == y, 1).otherwise(0)).alias(f"b{y}")
                for y in _Q678_YEARS
            ]
        )
    )
    return _q679_card_from_rows(rows)


def _q679_card_from_rows(rows: DataFrame) -> DataFrame:
    """The Cochran-Q card over a per-customer (b1998, b1999, b2000)
    indicator relation — shared by the batch lane and the streaming
    twin's drain (indicators merge by MAX — idempotent)."""
    bsum = "(" + " + ".join(f"b{y}" for y in _Q678_YEARS) + ")"
    card = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.lit(3).cast("long").alias("k"),
        F.expr(
            " + ".join(f"SUM(b{y})" for y in _Q678_YEARS)
        )
        .cast("long")
        .alias("nn"),
        F.expr(
            " + ".join(
                f"SUM(b{y}) * SUM(b{y})" for y in _Q678_YEARS
            )
        )
        .cast("long")
        .alias("csq"),
        F.expr(f"SUM({bsum} * {bsum})").cast("long").alias("rsq"),
    )
    return card.select(
        "n_customers",
        F.col("k").alias("k_periods"),
        F.col("nn").alias("n_successes"),
        F.expr(_Q679_Q).alias("cochran_q"),
        F.expr(
            f"{_Q679_Q.replace(', 6)', ', 9)')} > 5.991464547107979"
        ).alias("propensity_change_rejected_null"),
    )


# ---------------------------------------------------------------------------
# q680 — population stability index (PSI) of the order-value mix
# ---------------------------------------------------------------------------
#
# The production model-monitoring metric the drift family still
# lacked (q534 tracks streaming feature drift, q663 token-
# distribution drift): PSI of the order-value distribution 1999 →
# 2000 over FIXED literal value bins (the deployed-scorecard
# convention), Laplace-smoothed so an empty bin never hits ln(0).
# Shares are exact rationals; per-bin terms (p−q)·ln(p/q) are
# small-magnitude, 9dp-rounded, decimal-summed.

_Q680_Y0, _Q680_Y1 = 1999, 2000
# fixed bin edges in cents (scorecard-style literal grid)
_Q680_EDGES = [0, 2_500_000, 5_000_000, 10_000_000, 20_000_000,
               30_000_000, 40_000_000]

_Q680_P = "((CAST(c0 AS DOUBLE) + 1) / (CAST(n0 AS DOUBLE) + nb))"
_Q680_QQ = "((CAST(c1 AS DOUBLE) + 1) / (CAST(n1 AS DOUBLE) + nb))"
_Q680_TERM = (
    f"round(({_Q680_P} - {_Q680_QQ}) * ln({_Q680_P} / {_Q680_QQ}), 9)"
)
_Q680_VERDICT = (
    "CASE WHEN psi < 0.1 THEN 'stable'"
    " WHEN psi < 0.25 THEN 'moderate_shift'"
    " ELSE 'shifted' END"
)


def _q680_bin(col: str) -> str:
    """Shared literal-edge binning expression (rightmost bin open)."""
    conds = " ".join(
        f"WHEN {col} < {e} THEN {i}"
        for i, e in enumerate(_Q680_EDGES[1:], start=1)
    )
    return f"(CASE {conds} ELSE {len(_Q680_EDGES)} END)"


def _q680_oracle() -> str:
    b = _q680_bin("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    return f"""
        WITH v AS MATERIALIZED (
            SELECT year(CAST(o_orderdate AS DATE)) AS yr,
                   {b} AS bin
            FROM orders
            WHERE o_orderdate >= DATE '{_Q680_Y0}-01-01'
              AND o_orderdate < DATE '{_Q680_Y1 + 1}-01-01'
              AND year(CAST(o_orderdate AS DATE))
                  IN ({_Q680_Y0}, {_Q680_Y1})
        ),
        bins AS MATERIALIZED (
            SELECT CAST(b AS BIGINT) AS bin
            FROM (SELECT unnest(range(1, {len(_Q680_EDGES) + 1})) AS b)
        ),
        counts AS MATERIALIZED (
            SELECT bins.bin,
                   CAST(COALESCE(SUM(CASE WHEN v.yr = {_Q680_Y0}
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS c0,
                   CAST(COALESCE(SUM(CASE WHEN v.yr = {_Q680_Y1}
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1
            FROM bins LEFT JOIN v ON bins.bin = v.bin
            GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(c0) AS BIGINT) AS n0,
                   CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(COUNT(*) AS BIGINT) AS nb
            FROM counts
        ),
        terms AS (
            SELECT CAST({_Q680_TERM} AS DECIMAL(28,9)) AS term
            FROM counts, tot
        ),
        card AS (
            SELECT tot.n0, tot.n1, tot.nb,
                   round(CAST((SELECT CAST(SUM(term) AS DECIMAL(28,9))
                               FROM terms) AS DOUBLE), 6) AS psi
            FROM tot
        )
        SELECT n0 AS n_base, n1 AS n_current, nb AS n_bins, psi,
               {_Q680_VERDICT} AS stability_verdict
        FROM card
    """


@query("q680_psi_stability", oracle=_q680_oracle(), defer=True)
def q680_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX of the order-value mix
    {_Q680_Y0} → {_Q680_Y1} — the deployed-scorecard drift metric
    (industry cutoffs 0.1/0.25) completing the monitoring family
    (q534 streaming drift, q663 JSD): fixed literal cent bins (the
    production convention — bins frozen at model deploy time),
    Laplace +1 smoothing so an empty bin never produces ln(0),
    per-bin (p−q)·ln(p/q) terms 9dp-rounded and decimal-summed.

    Scale shape: one year-windowed orders scan (sargable range) →
    7-bin conditional rollup against a literal bin grid; 1-row
    card."""
    o = read_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    b = _q680_bin("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    v = (
        o.filter(
            (F.col("o_orderdate") >= f"{_Q680_Y0}-01-01")
            & (F.col("o_orderdate") < f"{_Q680_Y1 + 1}-01-01")
        )
        .filter(yr.isin(_Q680_Y0, _Q680_Y1))
        .select(yr.alias("yr"), F.expr(b).cast("long").alias("bin"))
    )
    raw = v.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == _Q680_Y0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("yr") == _Q680_Y1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    return _q680_card_from_bincounts(raw)


def _q680_card_from_bincounts(raw: DataFrame) -> DataFrame:
    """The PSI card over a sparse (bin, c0, c1) count relation —
    shared by the batch lane and the streaming twin's drain; the
    literal bin grid is re-joined here so empty bins survive any
    partial landing."""
    bins = raw.sparkSession.range(1, len(_Q680_EDGES) + 1).select(
        F.col("id").cast("long").alias("bin")
    )
    counts = bins.join(raw, "bin", "left").select(
        "bin",
        F.coalesce(F.col("c0"), F.lit(0)).cast("long").alias("c0"),
        F.coalesce(F.col("c1"), F.lit(0)).cast("long").alias("c1"),
    )
    tot = counts.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    terms = counts.crossJoin(F.broadcast(tot)).select(
        F.expr(_Q680_TERM).cast("decimal(28,9)").alias("term")
    )
    s = terms.agg(F.sum("term").cast("decimal(28,9)").alias("ts"))
    return (
        tot.crossJoin(F.broadcast(s))
        .select(
            F.col("n0").alias("n_base"),
            F.col("n1").alias("n_current"),
            F.col("nb").alias("n_bins"),
            F.round(F.col("ts").cast("double"), 6).alias("psi"),
        )
        .select(
            "n_base",
            "n_current",
            "n_bins",
            "psi",
            F.expr(_Q680_VERDICT).alias("stability_verdict"),
        )
    )


@query(
    "q681_streaming_ks_two_sample",
    oracle=QUERIES["q677_ks_two_sample"].oracle,
    defer=True,
)
def q681_streaming_ks_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q677's KS test under STREAMING lineitem arrival — the
    (cents, cta, ctr) value-grain counts are additive, so each epoch
    lands its grain partials and the drain merges before re-running
    the shared exact-integer ECDF-gap card.  Drain ≡ q677 under ANY
    lineitem-grain slicing.

    Scale shape: per-epoch grain rollup; the drain is q677's two
    cumulative passes + 1-row max card."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    li = read_table(spark, sf_dir, "lineitem").localCheckpoint()
    path = fresh_scratch_dir("ks_stream_", key=sf_dir) + "/grain"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            li.filter(F.col("l_orderkey") % k == ep)
            .filter(F.col("l_returnflag").isin("A", "R"))
            .select(
                F.col("l_returnflag").alias("flag"),
                F.round(F.col("l_extendedprice") * 100, 0)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("cents")
            .agg(
                F.sum(F.when(F.col("flag") == "A", 1).otherwise(0))
                .cast("long")
                .alias("cta"),
                F.sum(F.when(F.col("flag") == "R", 1).otherwise(0))
                .cast("long")
                .alias("ctr"),
            )
        )
        sinks.land(part, ep, path)
    grain = (
        sinks.landed(spark, path, "cents long, cta long, ctr long")
        .groupBy("cents")
        .agg(
            F.sum("cta").cast("long").alias("cta"),
            F.sum("ctr").cast("long").alias("ctr"),
        )
    )
    return _q677_card_from_grain(grain)


@query(
    "q682_streaming_friedman",
    oracle=QUERIES["q678_friedman_test"].oracle,
    defer=True,
)
def q682_streaming_friedman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q678's Friedman test under STREAMING order arrival — the
    (nation, year) revenue partials are additive, so each epoch
    lands its partial sums and the drain merges them into the block
    pivot before re-running the shared rank card.  Drain ≡ q678
    under ANY order-grain slicing.

    Scale shape: per-epoch joined rollup; the drain runs on the
    25-block merged pivot."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    c = read_table(spark, sf_dir, "customer")
    y0, y1 = _Q678_YEARS[0], _Q678_YEARS[-1]
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    path = fresh_scratch_dir("friedman_stream_", key=sf_dir) + "/blocks"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .filter(
                (F.col("o_orderdate") >= f"{y0}-01-01")
                & (F.col("o_orderdate") < f"{y1 + 1}-01-01")
            )
            .join(
                c.select("c_custkey", "c_nationkey"),
                o.o_custkey == F.col("c_custkey"),
            )
            .groupBy(F.col("c_nationkey").alias("nk"))
            .agg(
                *[
                    F.sum(F.when(yr == y, cents).otherwise(0))
                    .cast("long")
                    .alias(f"x{y}")
                    for y in _Q678_YEARS
                ]
            )
        )
        sinks.land(part, ep, path)
    cols = ", ".join(f"x{y} long" for y in _Q678_YEARS)
    blocks = (
        sinks.landed(spark, path, f"nk long, {cols}")
        .groupBy("nk")
        .agg(
            *[
                F.sum(f"x{y}").cast("long").alias(f"x{y}")
                for y in _Q678_YEARS
            ]
        )
    )
    return _q678_card_from_blocks(blocks)


@query(
    "q683_streaming_cochran_q",
    oracle=QUERIES["q679_cochran_q"].oracle,
    defer=True,
)
def q683_streaming_cochran_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q679's Cochran Q under STREAMING order arrival — the
    per-customer ordered-that-year indicators merge by MAX
    (idempotent), so each epoch lands its slice's indicators and the
    drain MAX-merges before re-running the shared Q card.  Drain ≡
    q679 under ANY order-grain slicing (a customer's years may split
    across epochs; the MAX merge repairs it).

    Scale shape: per-epoch indicator rollup; the drain is one
    customer-grain MAX merge + a 1-row card."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    y0, y1 = _Q678_YEARS[0], _Q678_YEARS[-1]
    yr = F.year(F.col("o_orderdate").cast("date"))
    path = fresh_scratch_dir("cochran_stream_", key=sf_dir) + "/rows"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .filter(
                (F.col("o_orderdate") >= f"{y0}-01-01")
                & (F.col("o_orderdate") < f"{y1 + 1}-01-01")
            )
            .groupBy("o_custkey")
            .agg(
                *[
                    F.max(F.when(yr == y, 1).otherwise(0)).alias(
                        f"b{y}"
                    )
                    for y in _Q678_YEARS
                ]
            )
        )
        sinks.land(part, ep, path)
    cols = ", ".join(f"b{y} int" for y in _Q678_YEARS)
    rows = (
        sinks.landed(spark, path, f"o_custkey long, {cols}")
        .groupBy("o_custkey")
        .agg(
            *[
                F.max(f"b{y}").alias(f"b{y}") for y in _Q678_YEARS
            ]
        )
    )
    return _q679_card_from_rows(rows)


@query(
    "q684_streaming_psi",
    oracle=QUERIES["q680_psi_stability"].oracle,
    defer=True,
)
def q684_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q680's PSI drift card under STREAMING order arrival — the
    sparse (bin, c0, c1) counts are additive, so each epoch lands
    its bin partials and the drain merges before re-joining the
    literal bin grid (empty bins survive any slicing) and re-running
    the shared smoothed-term card.  Drain ≡ q680 under ANY
    order-grain slicing.

    Scale shape: per-epoch 7-bin rollup; the drain runs on the
    literal grid."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    yr = F.year(F.col("o_orderdate").cast("date"))
    b = _q680_bin("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    path = fresh_scratch_dir("psi_stream_", key=sf_dir) + "/bins"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .filter(
                (F.col("o_orderdate") >= f"{_Q680_Y0}-01-01")
                & (F.col("o_orderdate") < f"{_Q680_Y1 + 1}-01-01")
            )
            .filter(yr.isin(_Q680_Y0, _Q680_Y1))
            .select(
                yr.alias("yr"), F.expr(b).cast("long").alias("bin")
            )
            .groupBy("bin")
            .agg(
                F.sum(F.when(F.col("yr") == _Q680_Y0, 1).otherwise(0))
                .cast("long")
                .alias("c0"),
                F.sum(F.when(F.col("yr") == _Q680_Y1, 1).otherwise(0))
                .cast("long")
                .alias("c1"),
            )
        )
        sinks.land(part, ep, path)
    raw = (
        sinks.landed(spark, path, "bin long, c0 long, c1 long")
        .groupBy("bin")
        .agg(
            F.sum("c0").cast("long").alias("c0"),
            F.sum("c1").cast("long").alias("c1"),
        )
    )
    return _q680_card_from_bincounts(raw)


# ---------------------------------------------------------------------------
# q685 — expected calibration error (ECE / MCE) of the en-detector
# ---------------------------------------------------------------------------
#
# The headline calibration metric ML evals report (beside q609's
# Brier decomposition — ECE is the weighted-average |confidence −
# accuracy| gap, MCE the worst bin): over the ≤5 quarter-unit score
# bins, ECE = Σ_b |100·pb − p·nb| / (100·n) has an EXACT INTEGER
# numerator; MCE is the max of identical 9dp-rounded per-bin gaps.

_Q685_GAP = (
    "round(abs(CAST(pb AS DOUBLE) / nb"
    " - CAST(p AS DOUBLE) / 100), 9)"
)
_Q685_ECE = "round(CAST(num AS DOUBLE) / (100 * CAST(n AS DOUBLE)), 6)"


def _q685_oracle() -> str:
    q37 = QUERIES["q37_text_quality"].oracle
    return f"""
        WITH q37 AS MATERIALIZED ({q37}),
        scored AS MATERIALIZED (
            SELECT CAST(q37.quality_score * 4 AS BIGINT) * 25 AS p,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q37 JOIN documents d ON q37.doc_id = d.doc_id
        ),
        bins AS MATERIALIZED (
            SELECT p, CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(y) AS BIGINT) AS pb
            FROM scored GROUP BY 1
        ),
        card AS (
            SELECT CAST(SUM(nb) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(abs(100 * pb - p * nb)) AS BIGINT) AS num,
                   MAX({_Q685_GAP}) AS mce
            FROM bins
        )
        SELECT n AS n_docs, k AS n_bins,
               {_Q685_ECE} AS ece,
               round(mce, 6) AS mce
        FROM card
    """


@query("q685_expected_calibration_error", oracle=_q685_oracle(), defer=True)
def q685_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPECTED CALIBRATION ERROR of the quarter-unit quality score
    as an en-probability — the standard reported calibration metric
    beside q609's Brier/Murphy decomposition: ECE's numerator
    Σ|100·pb − p·nb| is an EXACT INTEGER over the ≤5 score bins (no
    float enters the aggregate), and MCE takes the max of identical
    9dp-rounded per-bin gaps.  ECE ≤ MCE pinned in tests.

    Scale shape: one scored pass → ≤5-bin rollup → 1-row card."""
    from databricks_etl_spark.operators import text as TX

    d = read_table(spark, sf_dir, "documents")
    scored = (
        TX.quality_features(d)
        .select(
            "doc_id",
            ((F.col("quality_score") * 4).cast("long") * 25).alias("p"),
        )
        .join(
            d.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            ),
            "doc_id",
        )
    )
    bins = scored.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("pb"),
    )
    card = bins.agg(
        F.sum("nb").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.abs(100 * F.col("pb") - F.col("p") * F.col("nb")))
        .cast("long")
        .alias("num"),
        F.max(F.expr(_Q685_GAP)).alias("mce"),
    )
    return card.select(
        F.col("n").alias("n_docs"),
        F.col("k").alias("n_bins"),
        F.expr(_Q685_ECE).alias("ece"),
        F.round(F.col("mce"), 6).alias("mce"),
    )


# ---------------------------------------------------------------------------
# q686 — decile gains table / cumulative lift of the en-detector
# ---------------------------------------------------------------------------
#
# The scorecard deployment readout (beside AUC q607 / AP q608 / PR
# q626): rank the corpus by quality score, cut into 10 equal-depth
# deciles with the exact_ntile kernel (bit-identical to ntile(10)
# OVER the total order — never a global-sort window), and report
# per-decile capture, cumulative recall ("gains"), and lift.  Every
# rate is an exact integer ratio; the cumulative window runs over
# the 10-row decile relation.

_Q686_K = 10


def _q686_oracle() -> str:
    q37 = QUERIES["q37_text_quality"].oracle
    return f"""
        WITH q37 AS MATERIALIZED ({q37}),
        scored AS MATERIALIZED (
            SELECT q37.doc_id,
                   CAST(q37.quality_score * 4 AS BIGINT) AS s4,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q37 JOIN documents d ON q37.doc_id = d.doc_id
        ),
        ranked AS MATERIALIZED (
            SELECT y, ntile({_Q686_K}) OVER (
                       ORDER BY s4 DESC, doc_id) AS decile
            FROM scored
        ),
        dec AS MATERIALIZED (
            SELECT CAST(decile AS BIGINT) AS decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(y) AS BIGINT) AS n_positive
            FROM ranked GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
                   CAST(SUM(n_positive) AS BIGINT) AS p
            FROM dec
        )
        SELECT decile, n_docs, n_positive,
               round(CAST(n_positive AS DOUBLE) / n_docs, 6)
                   AS capture_rate,
               CAST(SUM(n_positive) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_positive,
               round(CAST(SUM(n_positive) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / tot.p, 6) AS cum_gain,
               round((CAST(n_positive AS DOUBLE) / n_docs)
                     / (CAST(tot.p AS DOUBLE) / tot.n), 6) AS lift
        FROM dec, tot
    """


@query("q686_gains_table", oracle=_q686_oracle(), defer=True)
def q686_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE GAINS TABLE / cumulative lift of the en-detector — the
    scorecard readout a deployment review reads next to AUC (q607):
    equal-depth deciles under the (score DESC, doc_id) total order
    from the exact_ntile kernel (bit-identical to the oracle's
    ntile(10) window, no global-sort task), per-decile capture rate,
    cumulative gain and lift as exact integer ratios.  Decile sizes
    differ by ≤1 and cum_gain reaches 1 at decile 10 — pinned in
    tests.

    Scale shape: one scored pass; the two-phase range-partitioned
    ntile; a 10-row decile rollup (the cumulative window runs over
    10 rows)."""
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.quantile_bucket import exact_ntile

    d = read_table(spark, sf_dir, "documents")
    scored = (
        TX.quality_features(d)
        .select(
            "doc_id",
            (F.col("quality_score") * 4).cast("long").alias("s4"),
        )
        .join(
            d.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            ),
            "doc_id",
        )
        .withColumn("negs4", -F.col("s4"))
    )
    ranked = exact_ntile(
        scored, ["negs4", "doc_id"], _Q686_K, out_col="decile"
    )
    dec = ranked.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_positive"),
    )
    tot = dec.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum("n_positive").cast("long").alias("p"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        dec.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_positive", F.sum("n_positive").over(w).cast("long")
        )
        .select(
            "decile",
            "n_docs",
            "n_positive",
            F.round(
                F.col("n_positive").cast("double") / F.col("n_docs"), 6
            ).alias("capture_rate"),
            "cum_positive",
            F.round(
                F.col("cum_positive").cast("double") / F.col("p"), 6
            ).alias("cum_gain"),
            F.round(
                (F.col("n_positive").cast("double") / F.col("n_docs"))
                / (F.col("p").cast("double") / F.col("n")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q687 — restricted mean survival time (RMST) over the KM curve
# ---------------------------------------------------------------------------
#
# The survival family's headline effect size (KM q540, Nelson–Aalen
# q647, log-rank q648 — RMST is the number a clinician/PM reports:
# expected days-to-conversion-free within the first τ days): the
# area under q540's step curve truncated at τ = 7.  Segments are
# (6dp survival) × (integer day gap) products — identical doubles on
# both engines — 9dp-rounded and decimal-summed; the head segment
# (S = 1 before the first event time) adds min(t₁, τ) exactly.

_Q687_TAU = 7
_Q687_TERM = (
    "round(survival * (CAST(LEAST(COALESCE(nxt, {tau}), {tau})"
    " AS DOUBLE) - t_days), 9)"
).format(tau=_Q687_TAU)


def _q687_oracle() -> str:
    km = QUERIES["q540_kaplan_meier"].oracle
    return f"""
        WITH km AS MATERIALIZED ({km}),
        seg AS MATERIALIZED (
            SELECT t_days, survival,
                   lead(t_days) OVER (ORDER BY t_days) AS nxt
            FROM km
        ),
        head AS (
            SELECT CAST(LEAST(MIN(t_days), {_Q687_TAU}) AS BIGINT)
                       AS head_days,
                   CAST(COUNT(*) AS BIGINT) AS n_event_times
            FROM km
        ),
        terms AS (
            SELECT CAST({_Q687_TERM} AS DECIMAL(28,9)) AS term
            FROM seg WHERE t_days < {_Q687_TAU}
        )
        SELECT head.n_event_times,
               CAST({_Q687_TAU} AS BIGINT) AS tau_days,
               round(CAST(head.head_days
                     + (SELECT CAST(SUM(term) AS DECIMAL(28,9))
                        FROM terms) AS DOUBLE), 6) AS rmst_days
        FROM head
    """


@query("q687_rmst", oracle=_q687_oracle(), defer=True)
def q687_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME over q540's Kaplan–Meier curve,
    truncated at τ = {_Q687_TAU} days — the survival family's
    reportable effect size (the area under the step curve = expected
    conversion-free days within the window).  Composes the
    registered q540 lane; segment terms are (6dp survival) ×
    (integer gap) — identical doubles both engines — 9dp-rounded
    and decimal-summed; RMST ≤ τ pinned in tests.

    Scale shape: q540's bounded event-time grid; one lead window
    over ≤|days| rows; a 1-row card."""
    km = QUERIES["q540_kaplan_meier"].fn(spark, sf_dir).localCheckpoint()
    w = Window.orderBy("t_days")
    seg = km.select(
        "t_days", "survival", F.lead("t_days").over(w).alias("nxt")
    )
    head = km.agg(
        F.least(F.min("t_days"), F.lit(_Q687_TAU))
        .cast("long")
        .alias("head_days"),
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
    )
    terms = seg.filter(F.col("t_days") < _Q687_TAU).select(
        F.expr(_Q687_TERM).cast("decimal(28,9)").alias("term")
    )
    s = terms.agg(F.sum("term").cast("decimal(28,9)").alias("ts"))
    return head.crossJoin(F.broadcast(s)).select(
        "n_event_times",
        F.lit(_Q687_TAU).cast("long").alias("tau_days"),
        F.round(
            (F.col("head_days") + F.col("ts")).cast("double"), 6
        ).alias("rmst_days"),
    )


# ---------------------------------------------------------------------------
# q688 — turning-point randomness test on monthly revenue
# ---------------------------------------------------------------------------
#
# The cheapest time-series randomness screen (public: Kendall's
# turning-point test): count strict local extrema T over the bounded
# monthly grid; under i.i.d. noise E[T] = 2(n−2)/3 and
# Var[T] = (16n−29)/90; the z-score and verdict are one portable
# expression over exact integers.

_Q688_Z = (
    "((CAST(t AS DOUBLE) - 2 * (CAST(n AS DOUBLE) - 2) / 3)"
    " / sqrt((16 * CAST(n AS DOUBLE) - 29) / 90))"
)


def _q688_oracle() -> str:
    return f"""
        WITH monthly AS MATERIALIZED (
            SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        idx AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT)
                       AS i, x
            FROM monthly
        ),
        tp AS (
            SELECT CAST(SUM(CASE WHEN (p.x < c.x AND nx.x < c.x)
                                   OR (p.x > c.x AND nx.x > c.x)
                            THEN 1 ELSE 0 END) AS BIGINT) AS t
            FROM idx c
            JOIN idx p ON p.i = c.i - 1
            JOIN idx nx ON nx.i = c.i + 1
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx)
        SELECT nn.n AS n_months, tp.t AS n_turning_points,
               round({_Q688_Z}, 6) AS z_score,
               abs({_Q688_Z}) > 1.96 AS randomness_rejected
        FROM tp, nn
    """


@query("q688_turning_points", oracle=_q688_oracle(), defer=True)
def q688_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINT randomness test on monthly revenue — the
    classical quick screen beside Mann–Kendall (q665 asks "is there
    a trend?", this asks "is it i.i.d. noise at all?"): strict local
    extrema counted exactly over the bounded month grid, z against
    E[T] = 2(n−2)/3, Var = (16n−29)/90, ±1.96 verdict.

    Scale shape: one orders scan → bounded monthly grid; the
    (i−1, i, i+1) triple join runs on the grid; 1-row card."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
        .alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("x")
    )
    return _q688_card_from_monthly(monthly)


def _q688_card_from_monthly(monthly: DataFrame) -> DataFrame:
    """The turning-point card over an (m, x) monthly grid — shared
    by the batch lane and the streaming twin's drain."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    monthly = monthly.withColumn("one", F.lit(1).cast("long"))
    idx = (
        exact_cumsum(monthly, ["m"], "one", out_col="i")
        .select(F.col("i").cast("long").alias("i"), "x")
        .localCheckpoint()
    )
    p = idx.select((F.col("i") + 1).alias("i"), F.col("x").alias("xp"))
    nx = idx.select((F.col("i") - 1).alias("i"), F.col("x").alias("xn"))
    tp = (
        idx.join(p, "i")
        .join(nx, "i")
        .agg(
            F.sum(
                F.when(
                    ((F.col("xp") < F.col("x")) & (F.col("xn") < F.col("x")))
                    | (
                        (F.col("xp") > F.col("x"))
                        & (F.col("xn") > F.col("x"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("t")
        )
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return tp.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_months"),
        F.col("t").alias("n_turning_points"),
        F.round(F.expr(_Q688_Z), 6).alias("z_score"),
        F.expr(f"abs({_Q688_Z}) > 1.96").alias("randomness_rejected"),
    )


# ---------------------------------------------------------------------------
# q689 — Wald–Wolfowitz runs test on daily revenue vs its median
# ---------------------------------------------------------------------------
#
# The sequence-randomness complement to q688: dichotomize daily
# revenue about its EXACT half-cent median (med2 = low+high middle
# order statistics, ties to the median excluded — the standard
# treatment), count sign runs R over the re-indexed sequence, and
# z against E[R] = 1 + 2n₁n₂/n, Var = 2n₁n₂(2n₁n₂−n)/(n²(n−1)).
# R, n₁, n₂ are exact integers; z is one portable expression.

_Q689_Z = (
    "((CAST(r AS DOUBLE) - (1 + 2.0 * n1 * n2 / (n1 + n2)))"
    " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
    " / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)"
    " * (CAST(n1 AS DOUBLE) + n2 - 1))))"
)


def _q689_oracle() -> str:
    return f"""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        nn0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM daily),
        srt AS MATERIALIZED (
            SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT)
                       AS rk
            FROM daily
        ),
        med AS MATERIALIZED (
            SELECT CAST((SELECT x FROM srt, nn0
                         WHERE rk = (n0 + 1) // 2)
                      + (SELECT x FROM srt, nn0
                         WHERE rk = n0 // 2 + 1) AS BIGINT) AS med2
        ),
        signs AS MATERIALIZED (
            SELECT d, 2 * x > med.med2 AS up
            FROM daily, med WHERE 2 * x <> med.med2
        ),
        seq AS MATERIALIZED (
            SELECT up, CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                       AS i
            FROM signs
        ),
        runs AS (
            SELECT CAST(1 + SUM(CASE WHEN a.up <> b.up
                            THEN 1 ELSE 0 END) AS BIGINT) AS r
            FROM seq a JOIN seq b ON b.i = a.i + 1
        ),
        counts AS (
            SELECT CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END)
                        AS BIGINT) AS n2
            FROM seq
        )
        SELECT counts.n1 AS n_above, counts.n2 AS n_below,
               runs.r AS n_runs,
               round({_Q689_Z}, 6) AS z_score,
               abs({_Q689_Z}) > 1.96 AS randomness_rejected
        FROM runs, counts
    """


@query("q689_runs_test", oracle=_q689_oracle(), defer=True)
def q689_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD–WOLFOWITZ runs test of daily revenue about its exact
    median — the sequence-randomness screen beside q688's turning
    points (runs detect clustering/persistence the extrema count
    misses): exact half-cent median over the bounded daily grid
    (exact_cumsum rank — no global window), median-ties excluded,
    runs counted by one lag join over the re-indexed sign sequence,
    z with the standard mean/variance, ±1.96 verdict.

    Scale shape: one orders scan → bounded daily grid; two
    exact_cumsum passes (median rank, sign re-index); grid-bounded
    lag join; 1-row card."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("x")
    )
    return _q689_card_from_daily(daily)


def _q689_card_from_daily(daily: DataFrame) -> DataFrame:
    """The runs-test card over a (d, x) daily grid — shared by the
    batch lane and the streaming twin's drain."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    daily = daily.withColumn(
        "one", F.lit(1).cast("long")
    ).localCheckpoint()
    srt = exact_cumsum(daily, ["x", "d"], "one", out_col="rk").select(
        "x", F.col("rk").cast("long").alias("rk")
    )
    nn0 = daily.agg(F.count(F.lit(1)).cast("long").alias("n0"))
    lo = (
        srt.crossJoin(F.broadcast(nn0))
        .filter(F.col("rk") == F.expr("(n0 + 1) DIV 2"))
        .select(F.col("x").alias("xlo"))
    )
    hi = (
        srt.crossJoin(F.broadcast(nn0))
        .filter(F.col("rk") == F.expr("n0 DIV 2 + 1"))
        .select(F.col("x").alias("xhi"))
    )
    med = lo.crossJoin(hi).select(
        (F.col("xlo") + F.col("xhi")).cast("long").alias("med2")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(2 * F.col("x") != F.col("med2"))
        .select("d", (2 * F.col("x") > F.col("med2")).alias("up"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    seq = exact_cumsum(signs, ["d"], "one", out_col="i").select(
        "up", F.col("i").cast("long").alias("i")
    ).localCheckpoint()
    nxt = seq.select((F.col("i") - 1).alias("i"), F.col("up").alias("up2"))
    runs = seq.join(nxt, "i").agg(
        (
            1
            + F.sum(F.when(F.col("up") != F.col("up2"), 1).otherwise(0))
        )
        .cast("long")
        .alias("r")
    )
    counts = seq.agg(
        F.sum(F.when(F.col("up"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
    )
    return runs.crossJoin(F.broadcast(counts)).select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.round(F.expr(_Q689_Z), 6).alias("z_score"),
        F.expr(f"abs({_Q689_Z}) > 1.96").alias("randomness_rejected"),
    )


# ---------------------------------------------------------------------------
# q690 — Grubbs-style maximum-deviation outlier screen
# ---------------------------------------------------------------------------
#
# The single-point outlier screen beside q531's MAD flags: the day
# whose revenue deviates most from the mean, located by the EXACT
# INTEGER argmax of |n·x − Σx| (ties → earliest date), scored as
# the studentized G = |x* − x̄|/s, flagged against a fixed
# production screening threshold (3.5 — a literal screen, not the
# n-dependent Grubbs critical, which has no closed portable form).

_Q690_G = (
    "(CAST(dev AS DOUBLE) / n"
    " / sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))))"
)


def _q690_oracle() -> str:
    return f"""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        mom AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS s,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
                        AS DECIMAL(38,0)) AS q
            FROM daily
        ),
        devs AS (
            SELECT d, x,
                   abs(CAST(mom.n AS DECIMAL(38,0)) * x - mom.s)
                       AS dv
            FROM daily, mom
        ),
        best AS (
            SELECT CAST(MAX(dv) AS DECIMAL(38,0)) AS dev FROM devs
        ),
        wit AS (
            SELECT MIN(d) AS outlier_date,
                   CAST(MIN_BY(x, d) AS BIGINT) AS outlier_cents
            FROM devs, best WHERE devs.dv = best.dev
        )
        SELECT mom.n AS n_days,
               CAST(wit.outlier_date AS TIMESTAMP) AS outlier_date,
               wit.outlier_cents,
               round({_Q690_G}, 6) AS grubbs_g,
               {_Q690_G} > 3.5 AS outlier_flagged
        FROM mom, best, wit
    """


@query("q690_grubbs_screen", oracle=_q690_oracle(), defer=True)
def q690_grubbs_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS-STYLE maximum-deviation outlier screen on daily
    revenue — the argmax located in EXACT INTEGERS (|n·x − Σx|,
    earliest-date tiebreak, so the witness can never flip on a
    float ulp), the studentized G evaluated from the exact moment
    card, flagged against the fixed 3.5 screening threshold (a
    production screen; the n-dependent exact Grubbs critical has no
    closed portable form — documented).  Timestamps (not dates) in
    the output per the cross-engine rule.

    Scale shape: one orders scan → bounded daily grid → 1-row
    moment/argmax cards."""
    o = read_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
        .localCheckpoint()
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    devs = daily.crossJoin(F.broadcast(mom)).select(
        "d",
        "x",
        F.abs(F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("s"))
        .alias("dv"),
    )
    best = devs.agg(F.max("dv").cast("decimal(38,0)").alias("dev"))
    wit = (
        devs.join(F.broadcast(best), devs.dv == F.col("dev"))
        .agg(
            F.min("d").alias("od"),
            F.min_by("x", "d").cast("long").alias("outlier_cents"),
        )
    )
    return (
        mom.crossJoin(best)
        .crossJoin(F.broadcast(wit))
        .select(
            F.col("n").alias("n_days"),
            F.col("od").cast("timestamp").alias("outlier_date"),
            "outlier_cents",
            F.round(F.expr(_Q690_G), 6).alias("grubbs_g"),
            F.expr(f"{_Q690_G} > 3.5").alias("outlier_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# q691 — sample-ratio-mismatch (SRM) guardrail for the md5 split
# ---------------------------------------------------------------------------
#
# The experimentation guardrail every A/B platform runs before
# reading any effect (public: Fabijan et al. 2019): does the q646
# md5 customer split actually produce the designed 50/50 ratio?
# χ²₁ = (n_a − n_b)²/(n_a + n_b) from exact counts; an SRM flag
# here invalidates q646/q551/q539 readouts — which is why it ships
# as its own always-on card.

_Q691_CHI2 = (
    "((CAST(na AS DOUBLE) - nb) * (CAST(na AS DOUBLE) - nb)"
    " / (CAST(na AS DOUBLE) + nb))"
)


def _q691_oracle() -> str:
    from databricks_etl_spark.plans.queries_round15 import _Q646_HEX

    return f"""
        WITH arms AS MATERIALIZED (
            SELECT CASE WHEN strpos('{_Q646_HEX}', substr(md5('cu:' ||
                       CAST(c_custkey AS VARCHAR)), 1, 1)) > 0
                   THEN 1 ELSE 0 END AS arm_a
            FROM customer
        ),
        card AS (
            SELECT CAST(SUM(arm_a) AS BIGINT) AS na,
                   CAST(SUM(1 - arm_a) AS BIGINT) AS nb
            FROM arms
        )
        SELECT na AS n_arm_a, nb AS n_arm_b,
               round({_Q691_CHI2}, 6) AS srm_chi2,
               {_Q691_CHI2} > 3.841458820694124 AS srm_detected
        FROM card
    """


@query("q691_srm_guardrail", oracle=_q691_oracle(), defer=True)
def q691_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH guardrail on the q646 md5 customer
    split — the always-on experimentation health check (an SRM
    invalidates every downstream A/B readout, so it ships as its
    own card): exact arm counts over the customer table, χ²₁
    against the designed 50/50, 3.841 (95%) verdict.

    Scale shape: one customer scan → 1-row card."""
    from databricks_etl_spark.plans.queries_round15 import _Q646_HEX

    c = read_table(spark, sf_dir, "customer")
    arms = c.select(
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cu:"), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                1,
            ).isin(*list(_Q646_HEX)),
            1,
        )
        .otherwise(0)
        .alias("arm_a")
    )
    card = arms.agg(
        F.sum("arm_a").cast("long").alias("na"),
        F.sum(1 - F.col("arm_a")).cast("long").alias("nb"),
    )
    return card.select(
        F.col("na").alias("n_arm_a"),
        F.col("nb").alias("n_arm_b"),
        F.round(F.expr(_Q691_CHI2), 6).alias("srm_chi2"),
        F.expr(f"{_Q691_CHI2} > 3.841458820694124").alias(
            "srm_detected"
        ),
    )


@query(
    "q692_streaming_turning_points",
    oracle=QUERIES["q688_turning_points"].oracle,
    defer=True,
)
def q692_streaming_turning_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q688's turning-point test under STREAMING order arrival —
    monthly partials are additive, so each epoch lands (month,
    cents) partial sums and the drain merges months before the
    shared triple-join card.  Drain ≡ q688 under ANY order-grain
    slicing."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    path = fresh_scratch_dir("tp_stream_", key=sf_dir) + "/monthly"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .groupBy(
                F.date_format(
                    F.col("o_orderdate").cast("date"), "yyyy-MM"
                ).alias("m")
            )
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                )
                .cast("long")
                .alias("x")
            )
        )
        sinks.land(part, ep, path)
    monthly = (
        sinks.landed(spark, path, "m string, x long")
        .groupBy("m")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    return _q688_card_from_monthly(monthly)


@query(
    "q693_streaming_runs_test",
    oracle=QUERIES["q689_runs_test"].oracle,
    defer=True,
)
def q693_streaming_runs_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q689's runs test under STREAMING order arrival — daily
    partials are additive, so each epoch lands (day, cents) partial
    sums and the drain merges days before the shared median/runs
    card.  Drain ≡ q689 under ANY order-grain slicing (the median
    itself is re-derived from the merged grid)."""
    import databricks_etl_spark.plans.queries_round13 as _r13

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    path = fresh_scratch_dir("runs_stream_", key=sf_dir) + "/daily"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            o.filter(F.col("o_orderkey") % k == ep)
            .groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                )
                .cast("long")
                .alias("x")
            )
        )
        sinks.land(part, ep, path)
    daily = (
        sinks.landed(spark, path, "d date, x long")
        .groupBy("d")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    return _q689_card_from_daily(daily)
