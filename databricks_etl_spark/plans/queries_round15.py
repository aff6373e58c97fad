"""Round-15 lanes.

The first ~19 lanes here register non-deferred: the round-15 driver
window is q01 + the 30-lane round-14 queue (24 own-oracle + 6 twins),
leaving 19 free slots that these fill by registration order.  Lanes
past the window budget register ``defer=True`` and queue for round 16
(the discipline VERDICT r13 #2 established).

Families extended this round:

- classifier-eval ladder (q607 exact AUC) → exact AVERAGE PRECISION
  (q608), Brier score + calibration decomposition (q609), and the
  binned precision/recall curve (q626);
- rank statistics (q593 Mann–Whitney) → Wilcoxon signed-rank on
  PAIRED samples (q610) and Kruskal–Wallis across k groups (q611);
- moment statistics (q527 OLS, q35 Pearson) → one-way ANOVA (q612)
  and partial correlation (q613); autocorrelation function (q614);
- finance/ops cards (q586 revenue bridge) → price–volume–mix
  decomposition (q615), feature-engineering audits WoE/IV (q616) and
  smoothed target encoding with a held-out MSE gate (q617), decision
  stump induction (q618);
- graph family (q581 PageRank, q514 CC, q497 BFS, q185 triangles) →
  weighted SSSP (q619), k-core peeling (q620), link-prediction
  scoring (q621), label-propagation communities (deferred);
- forecasting (q218 seasonal naive, q541 EWMA) → Holt linear trend
  in exact integer micro-units (q622);
- text-ML (q544 unigram logprob) → naive-Bayes language-ID confusion
  card (q623); categorical association (q208 chi-sq) → Cramér's V
  matrix (q625).

Reference parity: the reference corpus (gbaliarda/databricks-etl,
notebooks etl.py / transform.py / pre_analysis.py) has none of these
surfaces — they extend SURVEY.md §2's analytics/ML-pipeline mandate.

Cross-engine determinism: every float tail is ONE portable expression
string evaluated from exact integers on both engines (the q600/q601
9dp-term → DECIMAL(28,9)-sum discipline for transcendental/rational
sums); integer arithmetic uses Spark ``DIV`` / DuckDB ``//`` on
non-negative operands only; md5-based splits follow q593/q163.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.plans.registry import QUERIES, query
from databricks_etl_spark.sources.readers import read_table
from databricks_etl_spark.streaming import sinks

# ---------------------------------------------------------------------------
# q608 — exact average precision of the quality score as an en-detector
# ---------------------------------------------------------------------------
#
# The ranking-eval complement of q607's AUC: AUC asks "are positives
# ranked above negatives on average?", AP asks "how good is the TOP of
# the ranking?" — the metric retrieval evals (q310 MRR, q332 RAG)
# report.  AP = (1/P)·Σ_{positives at rank k} precision@k over the
# deterministic total order (score DESC, doc_id ASC).  Every
# precision@k is an exact integer ratio j/k; terms are 9dp-rounded and
# decimal-summed so the value hash is row-order independent.

_Q608_AP = "round(CAST(s AS DOUBLE) / np, 6)"


def _q608_oracle() -> str:
    q37 = QUERIES["q37_text_quality"].oracle
    return f"""
        WITH q37 AS MATERIALIZED ({q37}),
        scored AS MATERIALIZED (
            SELECT d.doc_id,
                   CAST(q37.quality_score * 4 AS BIGINT) AS s4,
                   d.lang = 'en' AS pos
            FROM q37 JOIN documents d ON q37.doc_id = d.doc_id
        ),
        ranked AS (
            SELECT pos, CAST(row_number() OVER (
                       ORDER BY s4 DESC, doc_id) AS BIGINT) AS rn
            FROM scored
        ),
        pranked AS (
            SELECT rn, CAST(row_number() OVER (ORDER BY rn)
                       AS BIGINT) AS j
            FROM ranked WHERE pos
        ),
        card AS (
            SELECT CAST(SUM(CAST(round(CAST(j AS DOUBLE) / rn, 9)
                       AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS s,
                   CAST(COUNT(*) AS BIGINT) AS np
            FROM pranked
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored)
        SELECT tot.n AS n_ranked, card.np AS n_positive,
               {_Q608_AP} AS ap
        FROM card, tot
    """


@query("q608_exact_average_precision", oracle=_q608_oracle())
def q608_exact_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT AVERAGE PRECISION of q37's quality score as an English
    detector — the top-of-ranking eval metric next to q607's AUC:
    AP = (1/P)·Σ_{rel k} precision@k under the total order
    (score DESC, doc_id ASC).  Ranks are computed by the
    :func:`exact_cumsum` two-phase distributed rank (no global-sort
    window); each precision@k = j/k is an exact integer ratio
    evaluated by an identical IEEE division on both engines,
    9dp-rounded, decimal-summed, divided by P once at the edge.

    Scale shape: two range-partitioned rank passes (full corpus, then
    positives only) + one 1-row card — no global window, no driver
    data beyond the ≤64 per-partition offsets."""
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    d = read_table(spark, sf_dir, "documents")
    scored = (
        TX.quality_features(d)
        .select(
            "doc_id",
            (F.col("quality_score") * 4).cast("long").alias("s4"),
        )
        .join(
            d.select("doc_id", (F.col("lang") == "en").alias("pos")),
            "doc_id",
        )
        .withColumn("s4neg", -F.col("s4"))
        .withColumn("one", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    ranked = exact_cumsum(scored, ["s4neg", "doc_id"], "one", out_col="rn")
    pos = ranked.filter(F.col("pos")).localCheckpoint()
    pranked = exact_cumsum(pos, ["s4neg", "doc_id"], "one", out_col="j")
    card = pranked.select(
        F.round(
            F.col("j").cast("double") / F.col("rn").cast("double"), 9
        )
        .cast("decimal(28,9)")
        .alias("term")
    ).agg(
        F.sum("term").cast("decimal(28,9)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    tot = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return card.crossJoin(tot).select(
        F.col("n").alias("n_ranked"),
        F.col("np").alias("n_positive"),
        F.expr(_Q608_AP).alias("ap"),
    )


# ---------------------------------------------------------------------------
# q609 — Brier score + calibration decomposition of the en-detector
# ---------------------------------------------------------------------------
#
# The PROBABILITY-quality complement of q607/q608's ranking quality:
# map the quarter-unit quality score to a predicted probability
# p = s4·25 percent and score it against the true label with the Brier
# score, decomposed over the score grain (≤5 calibration bins) into
# reliability − resolution + uncertainty (Murphy 1973, public).  Every
# bin mean is an exact integer ratio; bin terms are 9dp-rounded and
# decimal-summed.

_Q609_BRIER = "round(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 10000), 6)"
_Q609_RELT = (
    "round(CAST(nb AS DOUBLE)"
    " * pow(CAST(p AS DOUBLE) / 100 - CAST(pb AS DOUBLE) / nb, 2), 9)"
)
_Q609_REST = (
    "round(CAST(nb AS DOUBLE)"
    " * pow(CAST(pb AS DOUBLE) / nb - CAST(ptot AS DOUBLE) / n, 2), 9)"
)
_Q609_EDGE = "round(CAST(s AS DOUBLE) / n, 6)"
_Q609_UNC = (
    "round((CAST(ptot AS DOUBLE) / n)"
    " * (1 - CAST(ptot AS DOUBLE) / n), 6)"
)


def _q609_oracle() -> str:
    q37 = QUERIES["q37_text_quality"].oracle
    return f"""
        WITH q37 AS MATERIALIZED ({q37}),
        scored AS MATERIALIZED (
            SELECT CAST(q37.quality_score * 4 AS BIGINT) * 25 AS p,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q37 JOIN documents d ON q37.doc_id = d.doc_id
        ),
        tot AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS ptot,
                   CAST(SUM((p - 100 * y) * (p - 100 * y))
                        AS BIGINT) AS sq
            FROM scored
        ),
        bins AS MATERIALIZED (
            SELECT p, CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(y) AS BIGINT) AS pb
            FROM scored GROUP BY 1
        ),
        parts AS (
            SELECT CAST(SUM(CAST({_Q609_RELT} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS srel,
                   CAST(SUM(CAST({_Q609_REST} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sres,
                   CAST(COUNT(*) AS BIGINT) AS n_bins
            FROM bins, tot
        )
        SELECT tot.n AS n_scored, tot.ptot AS n_positive,
               parts.n_bins AS n_bins,
               {_Q609_BRIER} AS brier,
               {_Q609_EDGE.replace("s ", "srel ")} AS reliability,
               {_Q609_EDGE.replace("s ", "sres ")} AS resolution,
               {_Q609_UNC} AS uncertainty
        FROM tot, parts
    """


@query("q609_brier_calibration", oracle=_q609_oracle())
def q609_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE + Murphy calibration decomposition of the quality
    score read as P(english) — is the detector CALIBRATED, not just
    well-ranked (q607/q608)?  Brier = mean (p−y)² over exact integer
    percent units; reliability and resolution decompose it over the
    ≤5-cell score grain with exact bin ratios (9dp terms,
    decimal-summed); uncertainty = ȳ(1−ȳ).  The Murphy identity
    brier = reliability − resolution + uncertainty is pinned in
    tests.

    Scale shape: one corpus scan → 1-row moments + a ≤5-row bin
    relation; everything downstream is arithmetic on two tiny
    relations."""
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
                F.when(F.col("lang") == "en", 1)
                .otherwise(0)
                .cast("long")
                .alias("y"),
            ),
            "doc_id",
        )
        .localCheckpoint()
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("ptot"),
        F.sum(
            (F.col("p") - 100 * F.col("y"))
            * (F.col("p") - 100 * F.col("y"))
        )
        .cast("long")
        .alias("sq"),
    )
    bins = scored.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("pb"),
    )
    parts = bins.crossJoin(F.broadcast(tot)).select(
        F.expr(_Q609_RELT).cast("decimal(28,9)").alias("relt"),
        F.expr(_Q609_REST).cast("decimal(28,9)").alias("rest"),
    ).agg(
        F.sum("relt").cast("decimal(28,9)").alias("srel"),
        F.sum("rest").cast("decimal(28,9)").alias("sres"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    return tot.crossJoin(parts).select(
        F.col("n").alias("n_scored"),
        F.col("ptot").alias("n_positive"),
        "n_bins",
        F.expr(_Q609_BRIER).alias("brier"),
        F.expr(_Q609_EDGE.replace("s ", "srel ")).alias("reliability"),
        F.expr(_Q609_EDGE.replace("s ", "sres ")).alias("resolution"),
        F.expr(_Q609_UNC).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# q610 — Wilcoxon signed-rank test on paired year-over-year spend
# ---------------------------------------------------------------------------
#
# The PAIRED complement of q593's independent-samples Mann–Whitney:
# customers active in both 1999 and 2000 form natural pairs; the test
# asks whether the within-customer spend CHANGE is symmetric around
# zero without assuming normality.  Midranks of |d| ride the q593/q607
# doubled-midrank construction on the |d| value grain — W⁺ stays an
# exact integer in doubled units.

_Q610_Y0, _Q610_Y1 = 1999, 2000

_Q610_Z = (
    "round((CAST(w2p AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)"
    " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24), 6)"
)


def _q610_oracle() -> str:
    return f"""
        WITH spend AS MATERIALIZED (
            SELECT o_custkey,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      = {_Q610_Y0}
                            THEN CAST(round(o_totalprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS c0,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      = {_Q610_Y1}
                            THEN CAST(round(o_totalprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS c1
            FROM orders
            WHERE year(CAST(o_orderdate AS DATE))
                  IN ({_Q610_Y0}, {_Q610_Y1})
            GROUP BY 1
            HAVING SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                 = {_Q610_Y0} THEN 1 ELSE 0 END) > 0
               AND SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                 = {_Q610_Y1} THEN 1 ELSE 0 END) > 0
        ),
        d AS MATERIALIZED (
            SELECT c1 - c0 AS d, abs(c1 - c0) AS ad
            FROM spend WHERE c1 <> c0
        ),
        grain AS MATERIALIZED (
            SELECT ad,
                   CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS cp,
                   CAST(COUNT(*) AS BIGINT) AS ct
            FROM d GROUP BY 1
        ),
        ranked AS (
            SELECT ad, cp, ct,
                   SUM(ct) OVER (ORDER BY ad
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM grain
        ),
        card AS (
            SELECT CAST(SUM(cp * (2 * cum - ct + 1)) AS BIGINT) AS w2p,
                   CAST(SUM(ct) AS BIGINT) AS n
            FROM ranked
        )
        SELECT n AS n_pairs, w2p AS w2_pos,
               CAST(n * (n + 1) - w2p AS BIGINT) AS w2_neg,
               {_Q610_Z} AS z_approx
        FROM card
    """


@query("q610_wilcoxon_signed_rank", oracle=_q610_oracle())
def q610_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WILCOXON SIGNED-RANK on paired year-over-year customer spend —
    the paired complement of q593's Mann–Whitney: for customers
    active in both {_Q610_Y0} and {_Q610_Y1}, rank |Δspend| with
    midranks (doubled-midrank construction on the |d| grain, exact
    BIGINT throughout) and sum the ranks of the positive changes.
    W⁺ + W⁻ = n(n+1)/2 is pinned in tests; z is one portable float
    expression from the exact integers.

    Scale shape: customer-grain rollup → |d| value grain →
    exact_cumsum ordered fold → 1-row card."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    o = read_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    spend = (
        # sargable range alongside the year() predicate: the range
        # reaches the parquet scan as PushedFilters (min/max row-group
        # pruning at scale); year() alone does not push down
        o.filter(
            (F.col("o_orderdate") >= f"{_Q610_Y0}-01-01")
            & (F.col("o_orderdate") < f"{_Q610_Y1 + 1}-01-01")
        )
        .filter(yr.isin(_Q610_Y0, _Q610_Y1))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == _Q610_Y0, cents).otherwise(0))
            .cast("long")
            .alias("c0"),
            F.sum(F.when(yr == _Q610_Y1, cents).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(yr == _Q610_Y0, 1).otherwise(0)).alias("k0"),
            F.sum(F.when(yr == _Q610_Y1, 1).otherwise(0)).alias("k1"),
        )
        .filter((F.col("k0") > 0) & (F.col("k1") > 0))
    )
    d = spend.filter(F.col("c1") != F.col("c0")).select(
        (F.col("c1") - F.col("c0")).alias("d"),
        F.abs(F.col("c1") - F.col("c0")).alias("ad"),
    )
    grain = d.groupBy("ad").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("cp"),
        F.count(F.lit(1)).cast("long").alias("ct"),
    )
    ranked = exact_cumsum(grain, ["ad"], "ct", out_col="cum")
    card = ranked.agg(
        F.sum(F.col("cp") * (2 * F.col("cum") - F.col("ct") + 1))
        .cast("long")
        .alias("w2p"),
        F.sum("ct").cast("long").alias("n"),
    )
    return card.select(
        F.col("n").alias("n_pairs"),
        F.col("w2p").alias("w2_pos"),
        (F.col("n") * (F.col("n") + 1) - F.col("w2p"))
        .cast("long")
        .alias("w2_neg"),
        F.expr(_Q610_Z).alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# q611 — Kruskal–Wallis H across order-priority groups
# ---------------------------------------------------------------------------
#
# The k-group generalization of q593 (Mann–Whitney is its k=2 case):
# do order values differ by priority class?  Global midranks over the
# cents value grain (doubled units, exact BIGINT), per-group doubled
# rank sums, H and its tie-corrected form as portable float
# expressions from exact integers.

_Q611_TERM = (
    "round(CAST(r2g AS DOUBLE) * r2g / (4 * CAST(ng AS DOUBLE)), 9)"
)
_Q611_H = (
    "round(12 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))"
    " - 3 * (CAST(n AS DOUBLE) + 1), 6)"
)
_Q611_HC = (
    "round((12 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))"
    " - 3 * (CAST(n AS DOUBLE) + 1))"
    " / (1 - CAST(t AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * n * n - n)), 6)"
)
_Q611_MR = "round(CAST(r2g AS DOUBLE) / (2 * CAST(ng AS DOUBLE)), 6)"


def _q611_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT o_orderpriority AS grp,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders
        ),
        grain AS MATERIALIZED (
            SELECT cents, CAST(COUNT(*) AS BIGINT) AS ct
            FROM v GROUP BY 1
        ),
        ranked AS MATERIALIZED (
            SELECT cents, ct,
                   SUM(ct) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM grain
        ),
        gsum AS MATERIALIZED (
            SELECT v.grp,
                   CAST(SUM(2 * r.cum - r.ct + 1) AS BIGINT) AS r2g,
                   CAST(COUNT(*) AS BIGINT) AS ng
            FROM v JOIN ranked r ON v.cents = r.cents
            GROUP BY 1
        ),
        tots AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(SUM(CAST({_Q611_TERM} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS s
            FROM gsum
        ),
        ties AS (
            SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS t
            FROM grain
        )
        SELECT g.grp AS priority, g.ng AS n_orders,
               g.r2g AS r2_sum, {_Q611_MR} AS mean_rank,
               {_Q611_H} AS h_stat, {_Q611_HC} AS h_tie_corrected
        FROM gsum g, tots, ties
    """


@query("q611_kruskal_wallis", oracle=_q611_oracle())
def q611_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL–WALLIS H across the five order-priority classes — the
    k-group rank ANOVA (q593's Mann–Whitney generalized): global
    midranks over the order-value cents grain in exact doubled
    BIGINT units, per-group rank sums, H and its tie-corrected form
    evaluated once from the exact integers.  Output: one row per
    priority with its rank-sum card plus the shared H columns
    (constant across rows by construction — pinned in tests).

    Scale shape: value-grain rollup → exact_cumsum ordered fold →
    one keyed join back to the (grp, cents) grain → 5-row group
    relation; H is arithmetic over two 1-row relations."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    o = read_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    ).localCheckpoint()
    grain = v.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    ranked = exact_cumsum(grain, ["cents"], "ct", out_col="cum")
    gsum = (
        v.join(ranked, "cents")
        .groupBy("grp")
        .agg(
            F.sum(2 * F.col("cum") - F.col("ct") + 1)
            .cast("long")
            .alias("r2g"),
            F.count(F.lit(1)).cast("long").alias("ng"),
        )
        .localCheckpoint()
    )
    tots = gsum.select(
        "ng", F.expr(_Q611_TERM).cast("decimal(28,9)").alias("term")
    ).agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("term").cast("decimal(28,9)").alias("s"),
    )
    ties = ranked.agg(
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("long")
        .alias("t")
    )
    return (
        gsum.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("grp").alias("priority"),
            F.col("ng").alias("n_orders"),
            F.col("r2g").alias("r2_sum"),
            F.expr(_Q611_MR).alias("mean_rank"),
            F.expr(_Q611_H).alias("h_stat"),
            F.expr(_Q611_HC).alias("h_tie_corrected"),
        )
    )


# ---------------------------------------------------------------------------
# q612 — one-way ANOVA of account balance across market segments
# ---------------------------------------------------------------------------
#
# The parametric counterpart of q611's rank test: decompose total
# variance of customer account balances into between-segment and
# within-segment sums of squares from EXACT integer moments.  The
# naive Σ Sg²/ng − S²/N form suffers catastrophic cancellation of
# ~4 leading digits at 1e15 magnitude, where Spark's double→decimal
# cast (shortest-string) and DuckDB's (exact-binary) disagree by
# ULPs — so every quotient is split into an exact integer part
# (x DIV n, cancelled in exact integer space) plus a sub-unit
# fractional remainder ((x MOD n)/n, 9dp-safe).  F and η² are
# portable expressions over the small-magnitude pieces.

_Q612_FRAC = "round(CAST(rg AS DOUBLE) / CAST(ng AS DOUBLE), 9)"


def _q612_floordiv(a: str, b: str, engine: str) -> str:
    """Exact integer floor division of non-negative wide operands.

    DuckDB: HUGEINT ``//`` is exact at any graded magnitude.  Spark:
    ``DIV`` returns LONG (overflows past ~9.2e18 — hit at sf0.1 when
    s² ~ 5.6e19), so the scale-safe form subtracts the remainder and
    divides EXACTLY in DECIMAL(38,0): the quotient is integral, so
    the decimal division rounds nothing."""
    if engine == "duckdb":
        return f"(({a}) // ({b}))"
    return (
        f"CAST((({a}) - (({a}) % ({b}))) / ({b}) AS DECIMAL(38,0))"
    )


def _q612_cards(engine: str) -> dict[str, str]:
    """Portable output expressions over exact integer pieces; only
    the floor-division spelling differs per engine (values agree
    exactly — see :func:`_q612_floordiv`)."""
    s2n = _q612_floordiv("s * s", "n", engine)
    ssb = (
        f"(CAST(sbi - {s2n} AS DOUBLE)"
        " + CAST(sbf AS DOUBLE)"
        " - CAST((s * s) % n AS DOUBLE) / n)"
    )
    ssw = "(CAST(q - sbi AS DOUBLE) - CAST(sbf AS DOUBLE))"
    return {
        "ssb": f"round({ssb}, 6)",
        "ssw": f"round({ssw}, 6)",
        "f": f"round(({ssb} / (k - 1)) / ({ssw} / (n - k)), 6)",
        "eta": f"round({ssb} / ({ssb} + {ssw}), 6)",
    }


def _q612_oracle() -> str:
    e = _q612_cards("duckdb")
    return f"""
        WITH v AS MATERIALIZED (
            SELECT c_mktsegment AS grp,
                   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
            FROM customer
        ),
        g AS MATERIALIZED (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(cents) AS BIGINT) AS sg
            FROM v GROUP BY 1
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
            SELECT CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                        AS DECIMAL(38,0)) AS q
            FROM v
        )
        SELECT k AS k_groups, n AS n_customers,
               {e["ssb"]} AS ssb_cents2, {e["ssw"]} AS ssw_cents2,
               {e["f"]} AS f_stat, {e["eta"]} AS eta_sq
        FROM tots, qq
    """


@query("q612_anova_oneway", oracle=_q612_oracle())
def q612_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA of account balance across the five market
    segments — the parametric sibling of q611: SSB/SSW from exact
    integer moments with every quotient split into an exact integer
    part (DIV — cancelled against S²DIVN in exact integer space;
    the naive double form loses 4 leading digits to cancellation
    and ULP-level cast divergence) plus a sub-unit 9dp remainder;
    F and η² portable expressions over the small pieces.  The
    identity SSB + SSW = SST is pinned in tests.

    Scale shape: one customer scan → 5-row group relation + 1-row
    moment card; all downstream arithmetic on tiny relations.  All
    wide products and floor divisions run in DECIMAL(38,0) /
    HUGEINT, so no graded scale can hit an ANSI overflow (sf0.1
    already overflows the naive BIGINT s² — caught and pinned by
    the sf0.1 smoke test)."""
    c = read_table(spark, sf_dir, "customer")
    e = _q612_cards("spark")
    v = c.select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    ).localCheckpoint()
    g2 = (
        v.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum("cents").cast("long").alias("sg"),
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
    qq = v.agg(
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("q")
    )
    return tots.crossJoin(qq).select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_customers"),
        F.expr(e["ssb"]).alias("ssb_cents2"),
        F.expr(e["ssw"]).alias("ssw_cents2"),
        F.expr(e["f"]).alias("f_stat"),
        F.expr(e["eta"]).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# q613 — partial correlation of quantity and price controlling discount
# ---------------------------------------------------------------------------
#
# Extends q35 (Pearson profile): does the quantity↔extended-price
# correlation survive after controlling for the discount?  All ten
# second-order moments accumulate exactly in DECIMAL(38,0); the three
# pairwise r's and the partial r are ONE nested portable expression
# evaluated from those integers — identical IEEE sequence on both
# engines.


def _q613_r(sab: str, sa: str, sb: str, saa: str, sbb: str) -> str:
    """Portable Pearson-r sub-expression from exact moment columns."""
    n = "CAST(n AS DOUBLE)"
    return (
        f"(({n} * CAST({sab} AS DOUBLE)"
        f" - CAST({sa} AS DOUBLE) * CAST({sb} AS DOUBLE))"
        f" / sqrt(({n} * CAST({saa} AS DOUBLE)"
        f" - CAST({sa} AS DOUBLE) * CAST({sa} AS DOUBLE))"
        f" * ({n} * CAST({sbb} AS DOUBLE)"
        f" - CAST({sb} AS DOUBLE) * CAST({sb} AS DOUBLE))))"
    )


_Q613_RXY = _q613_r("sxy", "sx", "sy", "sxx", "syy")
_Q613_RXZ = _q613_r("sxz", "sx", "sz", "sxx", "szz")
_Q613_RYZ = _q613_r("syz", "sy", "sz", "syy", "szz")
_Q613_PARTIAL = (
    f"round(({_Q613_RXY} - {_Q613_RXZ} * {_Q613_RYZ})"
    f" / sqrt((1 - {_Q613_RXZ} * {_Q613_RXZ})"
    f" * (1 - {_Q613_RYZ} * {_Q613_RYZ})), 6)"
)


def _q613_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y,
                   CAST(round(l_discount * 100, 0) AS BIGINT) AS z
            FROM lineitem
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sz,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS szz,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS sxz,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS syz
            FROM v
        )
        SELECT n AS n_rows,
               round({_Q613_RXY}, 6) AS r_qty_price,
               round({_Q613_RXZ}, 6) AS r_qty_discount,
               round({_Q613_RYZ}, 6) AS r_price_discount,
               {_Q613_PARTIAL} AS partial_r_qty_price
        FROM m
    """


@query("q613_partial_correlation", oracle=_q613_oracle())
def q613_partial_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTIAL CORRELATION r(qty, price | discount) — first-order
    partialling via the three pairwise Pearson r's, all evaluated in
    one nested portable expression from ten exact DECIMAL(38,0)
    moments (single lineitem scan, map-side products, one 1-row
    combine).  Extends the q35 correlation profile with the
    controlled-association question.

    Scale shape: one scan, one 1-row aggregate — the minimal
    distributed shape for any moment statistic."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    v = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("z"),
    )
    m = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("z")).cast("decimal(38,0)").alias("sz"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(dec("z") * F.col("z")).cast("decimal(38,0)").alias("szz"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * F.col("z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(dec("y") * F.col("z")).cast("decimal(38,0)").alias("syz"),
    )
    return m.select(
        F.col("n").alias("n_rows"),
        F.round(F.expr(_Q613_RXY), 6).alias("r_qty_price"),
        F.round(F.expr(_Q613_RXZ), 6).alias("r_qty_discount"),
        F.round(F.expr(_Q613_RYZ), 6).alias("r_price_discount"),
        F.expr(_Q613_PARTIAL).alias("partial_r_qty_price"),
    )


# ---------------------------------------------------------------------------
# q614 — autocorrelation function of daily revenue (lags 1–7)
# ---------------------------------------------------------------------------
#
# The time-series memory card (extends q197 EWMA / q530 seasonality):
# ACF at lags 1..7 of the daily order-revenue series using the
# standard biased estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)².
# Cross-products accumulate exactly (DECIMAL(38,0)); the mean enters
# only in the final portable expression, so no float drift upstream.

_Q614_ACF = (
    "round((CAST(sxy AS DOUBLE)"
    " - (CAST(s AS DOUBLE) / n) * (CAST(sh AS DOUBLE)"
    " + CAST(st AS DOUBLE))"
    " + (CAST(n AS DOUBLE) - lag)"
    " * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
    " / (CAST(q AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)"
)


def _q614_oracle() -> str:
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
        lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
        pairs AS (
            SELECT l.lag,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.x)
                        AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(a.x AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS sh,
                   CAST(SUM(CAST(b.x AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS st
            FROM lags l
            JOIN idx a ON TRUE
            JOIN idx b ON b.i = a.i + l.lag
            GROUP BY 1
        )
        SELECT CAST(p.lag AS BIGINT) AS lag, p.n_pairs,
               {_Q614_ACF} AS acf
        FROM pairs p, tot
    """


@query("q614_acf_lags", oracle=_q614_oracle())
def q614_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION of daily order revenue at lags 1–7 —
    the memory diagnostic behind every forecasting lane (q218/q541):
    standard biased estimator with exact DECIMAL(38,0) cross-products
    over the day-index self-join; the series mean enters only in the
    final portable expression.  r_0 ≡ 1 and |r_k| ≤ 1 pinned in
    tests.

    Scale shape: one orders scan → bounded daily grid (the q529-class
    bounded relation); day indexing via exact_cumsum (no global
    window); a 7-way literal lag grid self-join on the grid."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    o = read_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    idx = exact_cumsum(daily, ["d"], "one", out_col="i").select(
        F.col("i").cast("long").alias("i"), "x"
    ).localCheckpoint()
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
        "lag", F.explode(F.array(*[F.lit(k) for k in range(1, 8)]))
    ).withColumn("i2", F.col("i") + F.col("lag"))
    b = idx.select(F.col("i").alias("i2"), F.col("x").alias("x2"))
    pairs = (
        a.join(b, "i2")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x2"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("x").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sh"),
            F.sum(F.col("x2").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("st"),
        )
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.expr(_Q614_ACF).alias("acf"),
    )


# ---------------------------------------------------------------------------
# q615 — price–volume–mix decomposition of year-over-year revenue
# ---------------------------------------------------------------------------
#
# The finance bridge q586 does not answer: per brand, HOW did revenue
# move — unit price changes (price effect, (p1−p0)·q1 summed over
# parts sold both years), quantity changes (volume effect,
# (q1−q0)·p0), or portfolio churn (new / discontinued parts)?
# Part-grain terms are exact rationals r1 − r0·q1/q0 evaluated by one
# portable IEEE expression, 9dp-rounded, decimal-summed to brand.

_Q615_Y0, _Q615_Y1 = 1999, 2000

_Q615_PRICE_T = (
    "round(CAST(r1 AS DOUBLE)"
    " - CAST(r0 AS DOUBLE) * q1 / CAST(q0 AS DOUBLE), 9)"
)
_Q615_VOL_T = (
    "round(CAST(r0 AS DOUBLE)"
    " * (CAST(q1 AS DOUBLE) - q0) / CAST(q0 AS DOUBLE), 9)"
)
_Q615_EDGE = "round(CAST({col} AS DOUBLE), 6)"


def _q615_oracle() -> str:
    return f"""
        WITH pg AS MATERIALIZED (
            SELECT p.p_brand AS brand, l.l_partkey,
                   CAST(SUM(CASE WHEN year(CAST(l.l_shipdate AS DATE))
                                      = {_Q615_Y0}
                            THEN CAST(l.l_quantity AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS q0,
                   CAST(SUM(CASE WHEN year(CAST(l.l_shipdate AS DATE))
                                      = {_Q615_Y1}
                            THEN CAST(l.l_quantity AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS q1,
                   CAST(SUM(CASE WHEN year(CAST(l.l_shipdate AS DATE))
                                      = {_Q615_Y0}
                            THEN CAST(round(l.l_extendedprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS r0,
                   CAST(SUM(CASE WHEN year(CAST(l.l_shipdate AS DATE))
                                      = {_Q615_Y1}
                            THEN CAST(round(l.l_extendedprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS r1
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE year(CAST(l.l_shipdate AS DATE))
                  IN ({_Q615_Y0}, {_Q615_Y1})
            GROUP BY 1, 2
        )
        SELECT brand,
               CAST(SUM(r0) AS BIGINT) AS rev_prev_cents,
               CAST(SUM(r1) AS BIGINT) AS rev_curr_cents,
               CAST(SUM(r1) - SUM(r0) AS BIGINT) AS delta_cents,
               round(CAST(SUM(CASE WHEN q0 > 0 AND q1 > 0 THEN
                   CAST({_Q615_PRICE_T} AS DECIMAL(28,9))
                   ELSE CAST(0 AS DECIMAL(28,9)) END)
                   AS DOUBLE), 6) AS price_effect,
               round(CAST(SUM(CASE WHEN q0 > 0 AND q1 > 0 THEN
                   CAST({_Q615_VOL_T} AS DECIMAL(28,9))
                   ELSE CAST(0 AS DECIMAL(28,9)) END)
                   AS DOUBLE), 6) AS volume_effect,
               CAST(SUM(CASE WHEN q0 = 0 THEN r1 ELSE 0 END)
                    AS BIGINT) AS new_parts_cents,
               CAST(SUM(CASE WHEN q1 = 0 THEN r0 ELSE 0 END)
                    AS BIGINT) AS lost_parts_cents
        FROM pg GROUP BY 1
    """


@query("q615_price_volume_mix", oracle=_q615_oracle())
def q615_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE–VOLUME–MIX decomposition of brand revenue {_Q615_Y0} →
    {_Q615_Y1} — the analytical bridge behind q586's up/down card:
    per part sold in both years, price effect (p1−p0)·q1 and volume
    effect (q1−q0)·p0 (exact-rational terms, one portable IEEE
    expression, 9dp-rounded, decimal-summed to brand); portfolio
    churn reported exactly as new/lost part revenue.  The identity
    Δ = price + volume + new − lost (up to the 9dp term rounding) is
    pinned in tests.

    Scale shape: one lineitem scan filtered to two years, a
    part-grain rollup (conditional sums — no self-join), a brand
    rollup; the part join is dimension-sized."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    yr = F.year(F.col("l_shipdate").cast("date"))
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty = F.col("l_quantity").cast("long")
    pg = (
        # sargable shipdate range → PushedFilters (see q610 note)
        li.filter(
            (F.col("l_shipdate") >= f"{_Q615_Y0}-01-01")
            & (F.col("l_shipdate") < f"{_Q615_Y1 + 1}-01-01")
        )
        .filter(yr.isin(_Q615_Y0, _Q615_Y1))
        .join(p.select("p_partkey", "p_brand"),
              li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), "l_partkey")
        .agg(
            F.sum(F.when(yr == _Q615_Y0, qty).otherwise(0))
            .cast("long")
            .alias("q0"),
            F.sum(F.when(yr == _Q615_Y1, qty).otherwise(0))
            .cast("long")
            .alias("q1"),
            F.sum(F.when(yr == _Q615_Y0, cents).otherwise(0))
            .cast("long")
            .alias("r0"),
            F.sum(F.when(yr == _Q615_Y1, cents).otherwise(0))
            .cast("long")
            .alias("r1"),
        )
    )
    both = (F.col("q0") > 0) & (F.col("q1") > 0)
    zero9 = F.lit(0).cast("decimal(28,9)")
    return pg.groupBy("brand").agg(
        F.sum("r0").cast("long").alias("rev_prev_cents"),
        F.sum("r1").cast("long").alias("rev_curr_cents"),
        (F.sum("r1") - F.sum("r0")).cast("long").alias("delta_cents"),
        F.round(
            F.sum(
                F.when(
                    both,
                    F.expr(_Q615_PRICE_T).cast("decimal(28,9)"),
                ).otherwise(zero9)
            ).cast("double"),
            6,
        ).alias("price_effect"),
        F.round(
            F.sum(
                F.when(
                    both, F.expr(_Q615_VOL_T).cast("decimal(28,9)")
                ).otherwise(zero9)
            ).cast("double"),
            6,
        ).alias("volume_effect"),
        F.sum(F.when(F.col("q0") == 0, F.col("r1")).otherwise(0))
        .cast("long")
        .alias("new_parts_cents"),
        F.sum(F.when(F.col("q1") == 0, F.col("r0")).otherwise(0))
        .cast("long")
        .alias("lost_parts_cents"),
    )


# ---------------------------------------------------------------------------
# q616 — weight-of-evidence / information-value feature audit
# ---------------------------------------------------------------------------
#
# The credit-scoring feature-engineering classic (public: Siddiqi,
# scorecard literature): bin account balance into fixed $1000 bins and
# score how well the bins separate a binary target (BUILDING-segment
# membership).  WoE_b = ln(p_good/p_bad) with +1 Laplace cells so no
# bin degenerates; IV = Σ (p_good − p_bad)·WoE.  Every ratio is exact
# integers inside one portable ln expression.

_Q616_LN = (
    "ln((CAST(gb AS DOUBLE) + 1) * (b + nb)"
    " / ((CAST(bb AS DOUBLE) + 1) * (g + nb)))"
)
_Q616_WOE = f"round({_Q616_LN}, 6)"
_Q616_IVC = (
    "round(((CAST(gb AS DOUBLE) + 1) / (g + nb)"
    " - (CAST(bb AS DOUBLE) + 1) / (b + nb))"
    f" * {_Q616_LN}, 6)"
)


def _q616_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT (CAST(round(c_acctbal * 100, 0) AS BIGINT)
                    + 100000) // 100000 AS bin,
                   CASE WHEN c_mktsegment = 'BUILDING'
                        THEN 1 ELSE 0 END AS y
            FROM customer
        ),
        bins AS MATERIALIZED (
            SELECT bin, CAST(SUM(y) AS BIGINT) AS gb,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS bb
            FROM v GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(gb) AS BIGINT) AS g,
                   CAST(SUM(bb) AS BIGINT) AS b,
                   CAST(COUNT(*) AS BIGINT) AS nb
            FROM bins
        )
        SELECT CAST(bin AS BIGINT) AS bin, gb AS n_good, bb AS n_bad,
               {_Q616_WOE} AS woe, {_Q616_IVC} AS iv_contrib
        FROM bins, tot
    """


@query("q616_woe_information_value", oracle=_q616_oracle())
def q616_woe_information_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHT OF EVIDENCE + INFORMATION VALUE of binned account
    balance against BUILDING-segment membership — the scorecard
    feature audit: $1000 fixed-width bins (shifted non-negative
    before integer DIV so floor-vs-truncate never diverges), +1
    Laplace cells, WoE and IV contribution as portable ln
    expressions over exact counts.  Σ iv_contrib is the feature's
    IV; the (p_good−p_bad)·WoE ≥ 0 sign invariant is pinned in
    tests.

    Scale shape: one scan → bounded bin relation (value range / bin
    width) + 1-row totals."""
    c = read_table(spark, sf_dir, "customer")
    v = c.select(
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)"
            " DIV 100000"
        ).alias("bin"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    bins = v.groupBy("bin").agg(
        F.sum("y").cast("long").alias("gb"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("bb"),
    )
    tot = bins.agg(
        F.sum("gb").cast("long").alias("g"),
        F.sum("bb").cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("gb").alias("n_good"),
        F.col("bb").alias("n_bad"),
        F.expr(_Q616_WOE).alias("woe"),
        F.expr(_Q616_IVC).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# q617 — smoothed target encoding with a held-out MSE gate
# ---------------------------------------------------------------------------
#
# The leakage-safe way to turn a high-cardinality category into a
# numeric feature: fit enc_b = (pos_b + m·prior)/(n_b + m) on an
# md5-split train half only (q593's split discipline), score the
# HELD-OUT half's squared error against the smoothed encoding vs the
# global-prior baseline.  Per-row squared errors are exact-rational
# doubles, 9dp-rounded, decimal-summed.

_Q617_M = 20  # smoothing pseudo-count (literal in both engines)
_Q617_HEX = "01234567"  # md5 first hex here → train (~1/2)

_Q617_ENC = (
    f"((CAST(pb AS DOUBLE) + {_Q617_M} * CAST(ptot AS DOUBLE) / ntot)"
    f" / (CAST(nb AS DOUBLE) + {_Q617_M}))"
)
_Q617_PRIOR = "(CAST(ptot AS DOUBLE) / ntot)"
_Q617_SEE = f"round(pow({_Q617_ENC} - y, 2), 9)"
_Q617_SEP = f"round(pow({_Q617_PRIOR} - y, 2), 9)"
_Q617_MSE = "round(CAST({s} AS DOUBLE) / nh, 6)"


def _q617_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT p.p_brand AS brand,
                   CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                       AS y,
                   strpos('{_Q617_HEX}', substr(md5('te:' ||
                       CAST(l.l_orderkey AS VARCHAR)), 1, 1)) > 0
                       AS is_train
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        enc AS MATERIALIZED (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(y) AS BIGINT) AS pb
            FROM v WHERE is_train GROUP BY 1
        ),
        tt AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS ntot,
                   CAST(SUM(y) AS BIGINT) AS ptot
            FROM v WHERE is_train
        ),
        held AS (
            SELECT h.y,
                   COALESCE(e.nb, 0) AS nb, COALESCE(e.pb, 0) AS pb,
                   tt.ntot, tt.ptot
            FROM v h LEFT JOIN enc e ON h.brand = e.brand, tt
            WHERE NOT h.is_train
        ),
        card AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nh,
                   CAST(SUM(CAST({_Q617_SEE} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS se,
                   CAST(SUM(CAST({_Q617_SEP} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sp
            FROM held
        )
        SELECT (SELECT ntot FROM tt) AS n_train, nh AS n_heldout,
               (SELECT COUNT(*) FROM enc) AS n_categories,
               {_Q617_MSE.format(s="se")} AS mse_encoded,
               {_Q617_MSE.format(s="sp")} AS mse_prior,
               ({_Q617_MSE.format(s="se")})
                   < ({_Q617_MSE.format(s="sp")}) AS keep_feature
        FROM card
    """


@query("q617_target_encoding_audit", oracle=_q617_oracle())
def q617_target_encoding_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SMOOTHED TARGET ENCODING of part brand against return
    probability, gated by held-out MSE — the feature-store question
    (q554's materialization discipline applied to a supervised
    encoding): fit (pos+m·prior)/(n+m) on the md5-train half,
    compare held-out squared error against the global-prior
    baseline, and emit the keep/reject verdict.  Unseen categories
    fall back to the prior via the COALESCE(0,0) algebra
    (enc(0,0) ≡ prior).  On this corpus the brand carries NO return
    signal, so the gate honestly REJECTS the feature (the q607
    near-0.5-AUC discipline: the negative verdict is the finding);
    the m=20 smoothing bounds the held-out regret, pinned in
    tests.

    Scale shape: one fact scan + dimension join; the 25-row encoding
    relation joins map-side (AQE broadcasts it); per-row error terms
    are map-side; one 1-row card."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    v = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .cast("long")
            .alias("y"),
            (
                F.instr(
                    F.lit(_Q617_HEX),
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("te:"),
                                F.col("l_orderkey").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                )
                > 0
            ).alias("is_train"),
        )
        .localCheckpoint()
    )
    train = v.filter(F.col("is_train"))
    enc = train.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("pb"),
    ).localCheckpoint()
    tt = train.agg(
        F.count(F.lit(1)).cast("long").alias("ntot"),
        F.sum("y").cast("long").alias("ptot"),
    )
    held = (
        v.filter(~F.col("is_train"))
        .join(enc, "brand", "left")
        .select(
            "y",
            F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
            F.coalesce(F.col("pb"), F.lit(0)).alias("pb"),
        )
        .crossJoin(F.broadcast(tt))
    )
    card = held.select(
        F.expr(_Q617_SEE).cast("decimal(28,9)").alias("see"),
        F.expr(_Q617_SEP).cast("decimal(28,9)").alias("sep"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("see").cast("decimal(28,9)").alias("se"),
        F.sum("sep").cast("decimal(28,9)").alias("sp"),
    )
    ncat = enc.agg(F.count(F.lit(1)).cast("long").alias("n_categories"))
    return (
        card.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(ncat))
        .select(
            F.col("ntot").alias("n_train"),
            F.col("nh").alias("n_heldout"),
            "n_categories",
            F.expr(_Q617_MSE.format(s="se")).alias("mse_encoded"),
            F.expr(_Q617_MSE.format(s="sp")).alias("mse_prior"),
            (
                F.expr(_Q617_MSE.format(s="se"))
                < F.expr(_Q617_MSE.format(s="sp"))
            ).alias("keep_feature"),
        )
    )


# ---------------------------------------------------------------------------
# q618 — decision-stump induction on order value vs priority
# ---------------------------------------------------------------------------
#
# One round of CART in pure SQL (public: Breiman et al.): over $10k
# order-value bins, find the split threshold minimizing weighted Gini
# impurity against the urgent-priority label.  Left/right class
# counts come from one exact_cumsum prefix fold over the bin grain;
# the impurity of every candidate split is a portable expression from
# exact integers; argmin by (gini, threshold) is a total order.

_Q618_WG = (
    "(((CAST(nl AS DOUBLE)"
    " - (CAST(pl AS DOUBLE) * pl + CAST(gl AS DOUBLE) * gl) / nl)"
    " + (CAST(nr AS DOUBLE)"
    " - (CAST(pr AS DOUBLE) * pr + CAST(gr AS DOUBLE) * gr) / nr))"
    " / n)"
)
_Q618_PARENT = (
    "((CAST(n AS DOUBLE)"
    " - (CAST(pos AS DOUBLE) * pos"
    " + CAST(n - pos AS DOUBLE) * (n - pos)) / n) / n)"
)


def _q618_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       // 1000000 AS bin,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        bins AS MATERIALIZED (
            SELECT bin, CAST(SUM(y) AS BIGINT) AS bp,
                   CAST(COUNT(*) AS BIGINT) AS bt
            FROM v GROUP BY 1
        ),
        cum AS MATERIALIZED (
            SELECT bin,
                   CAST(SUM(bp) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
                   CAST(SUM(bt) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctt
            FROM bins
        ),
        tot AS (
            SELECT CAST(SUM(bp) AS BIGINT) AS pos,
                   CAST(SUM(bt) AS BIGINT) AS n
            FROM bins
        ),
        cand AS (
            SELECT bin AS t, ctt AS nl, cp AS pl,
                   CAST(ctt - cp AS BIGINT) AS gl,
                   CAST(n - ctt AS BIGINT) AS nr,
                   CAST(pos - cp AS BIGINT) AS pr,
                   CAST((n - ctt) - (pos - cp) AS BIGINT) AS gr,
                   n, pos
            FROM cum, tot WHERE ctt < n
        )
        SELECT CAST(t AS BIGINT) AS threshold_bin,
               nl AS n_left, pl AS pos_left,
               nr AS n_right, pr AS pos_right,
               round({_Q618_WG}, 6) AS weighted_gini,
               round({_Q618_PARENT}, 6) AS parent_gini,
               round({_Q618_PARENT} - {_Q618_WG}, 6) AS gain
        FROM cand
        ORDER BY {_Q618_WG}, t
        LIMIT 1
    """


@query("q618_decision_stump", oracle=_q618_oracle())
def q618_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP INDUCTION — one CART round in the engine: the
    $10k order-value bin threshold minimizing weighted Gini impurity
    against the urgent-priority label.  Candidate-split class counts
    from one exact_cumsum prefix fold over the bin grain; impurities
    portable IEEE from exact integers; argmin by (gini, threshold).
    gain ≥ 0 and the left/right count algebra are pinned in tests.

    Scale shape: one scan → bounded bin grain (price range / $10k) →
    prefix fold → bounded candidate relation → sort-limit on ≤50
    rows."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    o = read_table(spark, sf_dir, "orders")
    v = o.select(
        F.expr(
            "CAST(round(o_totalprice * 100, 0) AS BIGINT) DIV 1000000"
        ).alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    bins = v.groupBy("bin").agg(
        F.sum("y").cast("long").alias("bp"),
        F.count(F.lit(1)).cast("long").alias("bt"),
    ).localCheckpoint()
    cum = (
        exact_cumsum(bins, ["bin"], "bt", out_col="ctt")
        .withColumn("one", F.lit(1))
    )
    cum = exact_cumsum(cum, ["bin"], "bp", out_col="cp").select(
        "bin",
        F.col("cp").cast("long").alias("cp"),
        F.col("ctt").cast("long").alias("ctt"),
    )
    tot = bins.agg(
        F.sum("bp").cast("long").alias("pos"),
        F.sum("bt").cast("long").alias("n"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("ctt") < F.col("n"))
        .select(
            F.col("bin").alias("t"),
            F.col("ctt").alias("nl"),
            F.col("cp").alias("pl"),
            (F.col("ctt") - F.col("cp")).cast("long").alias("gl"),
            (F.col("n") - F.col("ctt")).cast("long").alias("nr"),
            (F.col("pos") - F.col("cp")).cast("long").alias("pr"),
            (
                (F.col("n") - F.col("ctt"))
                - (F.col("pos") - F.col("cp"))
            )
            .cast("long")
            .alias("gr"),
            "n",
            "pos",
        )
    )
    return (
        cand.orderBy(F.expr(_Q618_WG), F.col("t"))
        .limit(1)
        .select(
            F.col("t").cast("long").alias("threshold_bin"),
            F.col("nl").alias("n_left"),
            F.col("pl").alias("pos_left"),
            F.col("nr").alias("n_right"),
            F.col("pr").alias("pos_right"),
            F.round(F.expr(_Q618_WG), 6).alias("weighted_gini"),
            F.round(F.expr(_Q618_PARENT), 6).alias("parent_gini"),
            F.round(F.expr(f"{_Q618_PARENT} - {_Q618_WG}"), 6).alias(
                "gain"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q619 — weighted single-source shortest paths on the planted graph
# ---------------------------------------------------------------------------
#
# The distance rung of the graph family (q497 BFS counts hops; this
# weights them): integer edge weights w = 1 + (src+dst) mod 7 on the
# q581 planted co-order graph, source = the max-degree hub (tiebreak
# min pk, so the frontier actually grows), 8 unrolled
# Bellman–Ford relaxations (distributed SSSP's standard shape: one
# keyed join + grouped min per round), exact BIGINT throughout.
# NULL distance = unreached; the min-combine is an explicit CASE so
# both engines share NULL semantics.

_Q619_ITERS = 8
_Q619_TOP = 20
_Q619_STEP = (
    "CASE WHEN d IS NULL THEN nd WHEN nd IS NULL THEN d"
    " WHEN nd < d THEN nd ELSE d END"
)


def _q619_oracle() -> str:
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    head = f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % {_Q514_MOD} = 0
        ),
        edges AS MATERIALIZED (
            SELECT src, dst, CAST(1 + (src + dst) % 7 AS BIGINT) AS w
            FROM (
                SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
            )
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT pk FROM li),
        m AS MATERIALIZED (
            SELECT src AS mn FROM edges
            GROUP BY 1 ORDER BY COUNT(*) DESC, src LIMIT 1
        ),
        d0 AS MATERIALIZED (
            SELECT pk, CASE WHEN pk = (SELECT mn FROM m)
                            THEN CAST(0 AS BIGINT) END AS d
            FROM nodes
        )"""
    steps = []
    for i in range(1, _Q619_ITERS + 1):
        steps.append(f""",
        d{i} AS MATERIALIZED (
            SELECT n.pk,
                   CAST(CASE WHEN n.d IS NULL THEN f.nd
                             WHEN f.nd IS NULL THEN n.d
                             WHEN f.nd < n.d THEN f.nd
                             ELSE n.d END AS BIGINT) AS d
            FROM d{i - 1} n LEFT JOIN (
                SELECT e.dst AS pk, MIN(p.d + e.w) AS nd
                FROM d{i - 1} p
                JOIN edges e ON e.src = p.pk
                WHERE p.d IS NOT NULL
                GROUP BY 1
            ) f ON n.pk = f.pk
        )""")
    return (
        head
        + "".join(steps)
        + f"""
        SELECT rank_pos, pk, dist FROM (
            SELECT CAST(row_number() OVER (ORDER BY d, pk)
                        AS BIGINT) AS rank_pos,
                   pk, d AS dist
            FROM d{_Q619_ITERS} WHERE d IS NOT NULL
        ) WHERE rank_pos <= {_Q619_TOP}
    """
    )


@query("q619_sssp_weighted", oracle=_q619_oracle(), bench=True)
def q619_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED SSSP (Bellman–Ford, 8 unrolled rounds) from the
    max-degree hub (tiebreak min pk) of the planted co-order graph — the distance rung
    between q497's unweighted BFS and q581's PageRank: integer
    weights 1 + (src+dst) mod 7, per round one keyed join
    edges⋈frontier and one grouped MIN on dst, distances exact
    BIGINT, unreached = NULL with an explicit CASE min-combine so
    both engines share NULL semantics.  Output: the {_Q619_TOP}
    nearest reached nodes under (dist ASC, pk ASC).

    Scale shape: the standard distributed SSSP loop — edges
    partitioned by src, distances co-partitioned by pk, no
    driver-side state; localCheckpoint truncates the 8-deep
    lineage."""
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
    # r16 OPT (guide §1.2/§2.4): the old shape eagerly localCheckpointed
    # every relaxation round — TEN barrier jobs per invocation, blocks
    # lingering for the whole session.  Two changes, results identical:
    # (1) the edge relation is hash-partitioned + sorted by src ONCE
    # (checkpoint preserves partitioning/ordering — the edge table
    # never moves again; only the reached-frontier travels); (2) the
    # node-complete dist relation is replaced by the REACHED set —
    # reached_i = min over (relax(reached_{i-1}) ∪ {(source, 0)}).
    # That is provably the non-NULL slice of the old dist chain: for
    # any reached non-source node u, its defining path's predecessor v
    # stays reached with a non-increasing distance, so relax_i(u) ≤
    # dist_{i-1}(u) — the self-union the old CASE combine encoded is
    # redundant except for the source row, which is unioned explicitly.
    # Each round is then ONE keyed join + ONE grouped MIN on a single
    # linear chain — no per-round materialization needed at all.
    # r17 (guide §2.2/§2.6): partition the pinned edge relation by its
    # BYTES (planted 1/97 slice, ~4× pair expansion), not the core
    # count — all 8 relaxation rounds re-scan it, and a 32-way split of
    # a few hundred KB pays 32 task launches per round for nothing
    # (same fix as q581; capped at the session setting, so a no-op at
    # cluster scale).
    from databricks_etl_spark.sources.readers import scaled_partitions

    shp = scaled_partitions(
        spark, sf_dir, ("lineitem",), fraction=4.0 / _Q514_MOD
    )
    edges = (
        a.join(b, (a.ok == b.ok2) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
        .withColumn(
            "w",
            (1 + (F.col("src") + F.col("dst")) % 7).cast("long"),
        )
        .repartition(shp, "src")
        .sortWithinPartitions("src")
        .localCheckpoint()
    )
    srcrow = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), F.asc("src"))
        .limit(1)
        .select(
            F.col("src").alias("pk"), F.lit(0).cast("long").alias("d")
        )
        # 1-row relation unioned into every round — materialized once
        .localCheckpoint()
    )
    # r16 #2 (build cost): the 8 relaxation rounds are emitted as ONE
    # unrolled-CTE spark.sql over temp views of the two checkpointed
    # relations — the per-round DataFrame-API loop paid ~15 py4j round
    # trips per round per invocation (driver-side build time the bench
    # counts; OPTIMIZATION_r16.md).  The SQL is the literal transcription
    # of the old loop: relax = edges ⋈ reached on src, combine =
    # MIN over (relax ∪ source-row) per pk, distances BIGINT.
    edges.createOrReplaceTempView("q619_edges_v")
    srcrow.createOrReplaceTempView("q619_src_v")
    rounds = "".join(
        f""",
        r{i} AS (
            SELECT pk, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT e.dst AS pk, r.d + e.w AS d
                FROM q619_edges_v e JOIN r{i - 1} r ON e.src = r.pk
                UNION ALL
                SELECT pk, d FROM q619_src_v
            ) GROUP BY pk
        )"""
        for i in range(1, _Q619_ITERS + 1)
    )
    return spark.sql(
        f"""
        WITH r0 AS (SELECT pk, d FROM q619_src_v){rounds}
        SELECT CAST(row_number() OVER (ORDER BY d ASC, pk ASC) AS BIGINT)
                   AS rank_pos,
               pk, d AS dist
        FROM (
            SELECT pk, d FROM r{_Q619_ITERS}
            ORDER BY d ASC, pk ASC LIMIT {_Q619_TOP}
        )
        """
    )


# ---------------------------------------------------------------------------
# q620 — k-core peeling audit of the planted graph
# ---------------------------------------------------------------------------
#
# The density rung of the graph family: iteratively peel nodes of
# within-subgraph degree < k (k = 3, six unrolled rounds — the
# standard distributed k-core shape: per round one double semi-join
# to restrict edges, one grouped count, one filter).  The per-round
# (nodes, edges) decay card is the audit a clustering/community
# pipeline reads before trusting core structure.  All exact
# integers; directed edge rows counted (the symmetric pair counts
# twice, both engines).

_Q620_K = 3
_Q620_ROUNDS = 6


def _q620_oracle() -> str:
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
        s0 AS MATERIALIZED (SELECT DISTINCT pk FROM li)"""
    steps, rows = [], []
    for i in range(1, _Q620_ROUNDS + 1):
        steps.append(f""",
        e{i} AS MATERIALIZED (
            SELECT e.src, e.dst FROM edges e
            JOIN s{i - 1} a ON e.src = a.pk
            JOIN s{i - 1} b ON e.dst = b.pk
        ),
        s{i} AS MATERIALIZED (
            SELECT src AS pk FROM e{i}
            GROUP BY 1 HAVING COUNT(*) >= {_Q620_K}
        ),
        ee{i} AS MATERIALIZED (
            SELECT e.src, e.dst FROM edges e
            JOIN s{i} a ON e.src = a.pk
            JOIN s{i} b ON e.dst = b.pk
        )""")
        rows.append(f"""
        SELECT CAST({i} AS BIGINT) AS round,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s{i})
                   AS nodes_remaining,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ee{i})
                   AS edges_remaining""")
    return head + "".join(steps) + " UNION ALL ".join(rows)


@query("q620_kcore_peeling", oracle=_q620_oracle())
def q620_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE PEELING (k = {_Q620_K}, {_Q620_ROUNDS} unrolled rounds)
    of the planted co-order graph — the density audit between q514's
    connected components and q581's centrality: each round drops
    nodes whose degree within the surviving subgraph is < k, and the
    card tracks the (nodes, edges) decay until the 3-core fixpoint.
    Monotone non-increasing counts are pinned in tests.

    Scale shape: per round a double semi-join of the edge relation
    against the surviving node set (both partitioned by key), one
    grouped count, one filter — no driver-side state;
    localCheckpoint truncates the 6-round lineage."""
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
    surv = li.select("pk").distinct().localCheckpoint()
    cards = []
    for i in range(1, _Q620_ROUNDS + 1):
        e_in = (
            edges.join(surv.withColumnRenamed("pk", "src"), "src")
            .join(surv.withColumnRenamed("pk", "dst"), "dst")
            .select("src", "dst")
        )
        surv = (
            e_in.groupBy(F.col("src").alias("pk"))
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= _Q620_K)
            .select("pk")
            .localCheckpoint()
        )
        e_after = (
            edges.join(surv.withColumnRenamed("pk", "src"), "src")
            .join(surv.withColumnRenamed("pk", "dst"), "dst")
        )
        cards.append(
            surv.agg(F.count(F.lit(1)).cast("long").alias(
                "nodes_remaining"
            ))
            .crossJoin(
                e_after.agg(
                    F.count(F.lit(1)).cast("long").alias(
                        "edges_remaining"
                    )
                )
            )
            .select(
                F.lit(i).cast("long").alias("round"),
                "nodes_remaining",
                "edges_remaining",
            )
        )
    out = cards[0]
    for c in cards[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# q621 — link-prediction scoring (common neighbors / Adamic–Adar)
# ---------------------------------------------------------------------------
#
# The predictive rung of the graph family (public: Liben-Nowell &
# Kleinberg 2003): for non-adjacent node pairs sharing at least one
# neighbor, score common-neighbor count (exact), Adamic–Adar
# Σ 1/ln(deg(v)) (9dp terms, decimal-summed — mid nodes always have
# deg ≥ 2 so ln > 0), and neighborhood Jaccard cn/(du+dw−cn).
# Ranking keys on the EXACT decimal AA sum, never the rounded double.

_Q621_TOP = 20
_Q621_AAT = "round(1 / ln(CAST(dv AS DOUBLE)), 9)"
_Q621_JAC = (
    "round(CAST(cn AS DOUBLE)"
    " / (CAST(du AS DOUBLE) + dw - cn), 6)"
)


def _q621_oracle() -> str:
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    return f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % {_Q514_MOD} = 0
        ),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        ),
        deg AS MATERIALIZED (
            SELECT src AS pk, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1
        ),
        wedges AS MATERIALIZED (
            SELECT e1.src AS u, e2.dst AS w, e1.dst AS v
            FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
            WHERE e1.src < e2.dst
              AND NOT EXISTS (SELECT 1 FROM edges x
                              WHERE x.src = e1.src AND x.dst = e2.dst)
        ),
        scored AS MATERIALIZED (
            SELECT wg.u, wg.w,
                   CAST(COUNT(*) AS BIGINT) AS cn,
                   CAST(SUM(CAST({_Q621_AAT} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS aa
            FROM (SELECT u, w, v FROM wedges) wg
            JOIN (SELECT pk, d AS dv FROM deg) dvv ON wg.v = dvv.pk
            GROUP BY 1, 2
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY s.aa DESC, s.cn DESC, s.u, s.w)
                   AS BIGINT) AS rank_pos,
               s.u AS pk_a, s.w AS pk_b, s.cn AS common_neighbors,
               round(CAST(s.aa AS DOUBLE), 6) AS adamic_adar,
               round(CAST(s.cn AS DOUBLE)
                     / (CAST(da.d AS DOUBLE) + db.d - s.cn), 6)
                   AS jaccard
        FROM scored s
        JOIN deg da ON s.u = da.pk
        JOIN deg db ON s.w = db.pk
        ORDER BY s.aa DESC, s.cn DESC, s.u, s.w
        LIMIT {_Q621_TOP}
    """


@query("q621_link_prediction", oracle=_q621_oracle())
def q621_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the planted co-order graph — the top
    {_Q621_TOP} non-adjacent pairs by Adamic–Adar (tiebreak common
    neighbors, then pair): wedges from one edges⋈edges self-join
    (the q185 triangle shape minus the closing edge, removed by a
    left-anti), AA terms 1/ln(deg) 9dp-rounded and decimal-summed
    (mid nodes have deg ≥ 2 by wedge construction), neighborhood
    Jaccard from exact degrees.  The ranking keys on the EXACT
    decimal AA sum, so cross-engine order can never flip on a ulp.

    Scale shape: wedge join partitioned by the mid node, anti-join
    on the pair key, grouped fold to pair grain, top-k via
    sort-limit (TakeOrdered)."""
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
    deg = edges.groupBy(F.col("src").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint()
    e1 = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = (
        e1.join(e2, "v")
        .filter(F.col("u") < F.col("w"))
        .join(
            edges.select(
                F.col("src").alias("u"), F.col("dst").alias("w")
            ),
            ["u", "w"],
            "left_anti",
        )
    )
    scored = (
        wedges.join(deg.select(F.col("pk").alias("v"),
                               F.col("d").alias("dv")), "v")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(F.expr(_Q621_AAT).cast("decimal(28,9)"))
            .cast("decimal(28,9)")
            .alias("aa"),
        )
    )
    ranked = (
        scored.join(deg.select(F.col("pk").alias("u"),
                               F.col("d").alias("du")), "u")
        .join(deg.select(F.col("pk").alias("w"),
                         F.col("d").alias("dw")), "w")
        .orderBy(F.desc("aa"), F.desc("cn"), F.asc("u"), F.asc("w"))
        .limit(_Q621_TOP)
    )
    win = Window.orderBy(F.desc("aa"), F.desc("cn"), F.asc("u"),
                         F.asc("w"))
    return ranked.withColumn(
        "rank_pos", F.row_number().over(win).cast("long")
    ).select(
        "rank_pos",
        F.col("u").alias("pk_a"),
        F.col("w").alias("pk_b"),
        F.col("cn").alias("common_neighbors"),
        F.round(F.col("aa").cast("double"), 6).alias("adamic_adar"),
        F.expr(_Q621_JAC).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q622 — Holt linear-trend smoothing in exact integer micro-units
# ---------------------------------------------------------------------------
#
# Double-exponential smoothing (level + trend) over the bounded
# monthly revenue grid — the forecasting rung above q197/q541's
# single EWMA: α = 0.2, β = 0.1 as exact rational updates
# l' = (2x + 8(l+b)) DIV 10, b' = ((l'−l) + 9b) DIV 10 in BIGINT
# cents, with a +1e16 offset before each DIV so the operand is
# always positive (Spark DIV and DuckDB // both truncate toward
# zero; Python // floors — on positives all three agree).  The
# recursion is inherently sequential over ~n_months states: DuckDB
# runs it as a recursive CTE over the MATERIALIZED month index;
# Spark collects the bounded monthly grid (the q529-class bounded
# relation) and folds it exactly in driver Python.

_Q622_OFF = 10**15
_Q622_OFF10 = 10**16


def _q622_d10(v: int) -> int:
    return (v + _Q622_OFF10) // 10 - _Q622_OFF


def _q622_oracle() -> str:
    lnew = (
        "((2 * ix.x + 8 * (h.l + h.b)) + 10000000000000000)"
        " // 10 - 1000000000000000"
    )
    return f"""
        WITH RECURSIVE monthly AS MATERIALIZED (
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
        nn AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx
        ),
        h(i, l, b, sae, ne) AS (
            SELECT CAST(2 AS BIGINT),
                   (SELECT x FROM idx WHERE i = 2),
                   (SELECT x FROM idx WHERE i = 2)
                       - (SELECT x FROM idx WHERE i = 1),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT h.i + 1,
                   CAST({lnew} AS BIGINT),
                   CAST(((({lnew}) - h.l) + 9 * h.b
                         + 10000000000000000)
                        // 10 - 1000000000000000 AS BIGINT),
                   CAST(h.sae + abs(ix.x - (h.l + h.b)) AS BIGINT),
                   CAST(h.ne + 1 AS BIGINT)
            FROM h JOIN idx ix ON ix.i = h.i + 1
        )
        SELECT (SELECT n FROM nn) AS n_months,
               l AS final_level_cents, b AS final_trend_cents,
               CAST(l + b AS BIGINT) AS forecast_next_cents,
               sae AS sae_cents, ne AS n_eval
        FROM h WHERE i = (SELECT n FROM nn)
    """


@query("q622_holt_linear_trend", oracle=_q622_oracle())
def q622_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR-TREND smoothing of monthly revenue in exact
    integer cents (α=0.2, β=0.1 as DIV-10 rational updates with a
    positive offset so truncation ≡ floor on all three runtimes) —
    the level+trend forecasting rung above q541's single EWMA, with
    the one-step-ahead absolute-error sum as the backtest card.
    Matches DuckDB's recursive-CTE evaluation state-for-state; the
    recurrence is inherently sequential, so Spark folds the BOUNDED
    monthly grid (~tens of rows at any sf — the documented
    bounded-grid collect class) exactly in driver Python.

    Scale shape: one distributed scan + month rollup; the Python
    fold touches only the bounded grid.  (Offset range note: valid
    for |monthly cents| < 1e15; lift _Q622_OFF for larger books.)"""
    o = read_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("m")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
        .orderBy("m")
        .collect()
    )
    xs = [int(r["x"]) for r in monthly]
    n = len(xs)
    lvl, tr = xs[1], xs[1] - xs[0]
    sae, ne = 0, 0
    for t in range(2, n):
        f = lvl + tr
        sae += abs(xs[t] - f)
        ne += 1
        lnew = _q622_d10(2 * xs[t] + 8 * (lvl + tr))
        tr = _q622_d10((lnew - lvl) + 9 * tr)
        lvl = lnew
    return spark.createDataFrame(
        [(n, lvl, tr, lvl + tr, sae, ne)],
        "n_months long, final_level_cents long, final_trend_cents long,"
        " forecast_next_cents long, sae_cents long, n_eval long",
    )


# ---------------------------------------------------------------------------
# q623 — naive-Bayes language-ID train/test confusion card
# ---------------------------------------------------------------------------
#
# Multinomial naive Bayes induced IN the engine (q544's unigram-LM
# machinery turned into a classifier): md5-split docs, per-class
# Laplace-smoothed token likelihoods from the train half, test docs
# argmax'd over Σ ln-terms.  Every ln term is 9dp-rounded and
# decimal-summed per (doc, class), so the argmax compares EXACT
# decimals — a cross-engine ulp can never flip a prediction.

_Q623_HEX = "01234567"  # md5 first hex here → train (~1/2)
_Q623_LP = "round(ln((CAST(tf AS DOUBLE) + 1) / (totc + vv)), 9)"
_Q623_PRIOR = "round(ln(CAST(ndc AS DOUBLE) / ndt), 9)"


def _q623_pred_chain() -> str:
    """The WITH-body computing per-test-doc NB predictions (reused by
    q637's McNemar comparison against the q38 heuristic)."""
    from databricks_etl_spark.plans.queries_dedup import _TOKS

    return f"""docs AS MATERIALIZED (
            SELECT doc_id, text, lang,
                   strpos('{_Q623_HEX}', substr(md5('nb:' ||
                       CAST(doc_id AS VARCHAR)), 1, 1)) > 0
                       AS is_train
            FROM documents
        ),
        toks AS MATERIALIZED (
            SELECT doc_id, is_train, lang, unnest({_TOKS}) AS token
            FROM docs
        ),
        cls AS MATERIALIZED (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS ndc
            FROM docs WHERE is_train GROUP BY 1
        ),
        ndt AS MATERIALIZED (
            SELECT CAST(SUM(ndc) AS BIGINT) AS ndt FROM cls
        ),
        ctf AS MATERIALIZED (
            SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE is_train GROUP BY 1, 2
        ),
        totc AS MATERIALIZED (
            SELECT lang, CAST(SUM(tf) AS BIGINT) AS totc
            FROM ctf GROUP BY 1
        ),
        vv AS MATERIALIZED (
            SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vv
            FROM ctf
        ),
        test_terms AS MATERIALIZED (
            SELECT t.doc_id, t.lang AS true_lang, c.lang AS cand,
                   CAST({_Q623_LP.replace(
                       "CAST(tf AS DOUBLE)",
                       "CAST(COALESCE(ctf.tf, 0) AS DOUBLE)")}
                       AS DECIMAL(28,9)) AS term
            FROM (SELECT doc_id, lang, token FROM toks
                  WHERE NOT is_train) t
            CROSS JOIN (SELECT lang FROM cls) c
            LEFT JOIN ctf ON ctf.lang = c.lang
                         AND ctf.token = t.token
            JOIN totc ON totc.lang = c.lang, vv
        ),
        dscore AS MATERIALIZED (
            SELECT tt.doc_id, tt.true_lang, tt.cand,
                   CAST(SUM(tt.term) AS DECIMAL(28,9))
                       + (SELECT CAST({_Q623_PRIOR} AS DECIMAL(28,9))
                          FROM cls, ndt WHERE cls.lang = tt.cand)
                       AS score
            FROM test_terms tt GROUP BY 1, 2, 3
        ),
        pred AS MATERIALIZED (
            SELECT doc_id, true_lang, pred_lang FROM (
                SELECT doc_id, true_lang, cand AS pred_lang,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, cand) AS rk
                FROM dscore
            ) WHERE rk = 1
        )"""


def _q623_oracle() -> str:
    return f"""
        WITH {_q623_pred_chain()}
        SELECT true_lang, pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred
        GROUP BY 1, 2
    """


@query("q623_naive_bayes_langid", oracle=_q623_oracle())
def q623_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAIVE-BAYES LANGUAGE ID trained and evaluated in the engine —
    the supervised sibling of q38's heuristic lang-ID: multinomial
    NB with Laplace smoothing fit on the md5 train half (per-class
    token likelihoods = q544's unigram-LM machinery, per class),
    test docs classified by argmax of the EXACT decimal score
    (9dp-rounded ln terms + ln prior, decimal-summed — cross-engine
    ulp can never flip a prediction), confusion matrix out.  Test
    docs whose token set is empty are dropped identically on both
    engines.

    Scale shape: one tokenize pass, class-model aggregates, then the
    test-token × 5-class scoring join partitioned by token (the
    class model is vocab-sized×k and joins map-side under AQE);
    argmax via a per-doc window over k rows."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "text",
        "lang",
        (
            F.instr(
                F.lit(_Q623_HEX),
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("nb:"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    1,
                ),
            )
            > 0
        ).alias("is_train"),
    )
    toks = docs.select(
        "doc_id", "is_train", "lang",
        F.explode(tokens_col("text")).alias("token"),
    ).localCheckpoint()
    cls = (
        docs.filter(F.col("is_train"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("ndc"))
        .localCheckpoint()
    )
    ndt = cls.agg(F.sum("ndc").cast("long").alias("ndt"))
    ctf = (
        toks.filter(F.col("is_train"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    totc = ctf.groupBy("lang").agg(
        F.sum("tf").cast("long").alias("totc")
    )
    vv = ctf.agg(
        F.countDistinct("token").cast("long").alias("vv")
    )
    priors = (
        cls.crossJoin(F.broadcast(ndt))
        .select(
            F.col("lang").alias("cand"),
            F.expr(_Q623_PRIOR).cast("decimal(28,9)").alias("lprior"),
        )
    )
    cand = cls.select(F.col("lang").alias("cand"))
    tt = (
        toks.filter(~F.col("is_train"))
        .select("doc_id", F.col("lang").alias("true_lang"), "token")
        .crossJoin(F.broadcast(cand))
        .join(
            ctf.select(
                F.col("lang").alias("cand"), "token", "tf"
            ),
            ["cand", "token"],
            "left",
        )
        .join(
            F.broadcast(
                totc.select(F.col("lang").alias("cand"), "totc")
            ),
            "cand",
        )
        .crossJoin(F.broadcast(vv))
        .select(
            "doc_id",
            "true_lang",
            "cand",
            F.expr(
                _Q623_LP.replace(
                    "CAST(tf AS DOUBLE)",
                    "CAST(COALESCE(tf, 0) AS DOUBLE)",
                )
            )
            .cast("decimal(28,9)")
            .alias("term"),
        )
    )
    dscore = (
        tt.groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum("term").cast("decimal(28,9)").alias("sterm"))
        .join(F.broadcast(priors), "cand")
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("sterm") + F.col("lprior")).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand")
    )
    return (
        dscore.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q624 — synchronous label propagation communities
# ---------------------------------------------------------------------------
#
# The community rung of the graph family (public: Raghavan et al.
# 2007), made deterministic: labels init to the node id, each of 4
# synchronous rounds every node adopts the MODE of its neighbors'
# labels (tiebreak smallest label; isolated nodes keep their own),
# and the card ranks the resulting communities by size.  Mode ≠ min
# — this is NOT connected components (q514): a hub's label can
# dominate a neighborhood across a bridge that CC would flood
# through.

_Q624_ITERS = 4
_Q624_TOP = 20


def _q624_oracle() -> str:
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
        l0 AS MATERIALIZED (SELECT pk, pk AS lbl FROM nodes)"""
    steps = []
    for i in range(1, _Q624_ITERS + 1):
        steps.append(f""",
        c{i} AS MATERIALIZED (
            SELECT e.dst AS pk, p.lbl,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM edges e JOIN l{i - 1} p ON e.src = p.pk
            GROUP BY 1, 2
        ),
        m{i} AS MATERIALIZED (
            SELECT pk, lbl FROM (
                SELECT pk, lbl, row_number() OVER (PARTITION BY pk
                    ORDER BY cnt DESC, lbl) AS rk
                FROM c{i}
            ) WHERE rk = 1
        ),
        l{i} AS MATERIALIZED (
            SELECT n.pk, COALESCE(m.lbl, p.lbl) AS lbl
            FROM nodes n
            JOIN l{i - 1} p ON n.pk = p.pk
            LEFT JOIN m{i} m ON n.pk = m.pk
        )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
        SELECT rank_pos, community_label, n_members FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY COUNT(*) DESC, lbl) AS BIGINT)
                       AS rank_pos,
                   lbl AS community_label,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM l{_Q624_ITERS} GROUP BY lbl
        ) WHERE rank_pos <= {_Q624_TOP}
    """
    )


@query("q624_label_propagation", oracle=_q624_oracle())
def q624_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-PROPAGATION COMMUNITIES ({_Q624_ITERS} synchronous
    rounds, deterministic: neighbor-mode with smallest-label
    tiebreak, isolated nodes keep their own) on the planted co-order
    graph — the community rung between q514's components and q581's
    centrality; top-{_Q624_TOP} communities by size.  Mode ≠ min:
    this is not CC — labels never cross components, so the community
    count REFINES the component count (≥, pinned in tests against
    q514).

    Scale shape: per round one keyed join edges⋈labels, one
    (node,label) grouped count, one per-node argmax window (k rows
    per node), one coalescing join — no driver-side state;
    localCheckpoint truncates the 4-round lineage."""
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
    nodes = li.select("pk").distinct().localCheckpoint()
    lab = nodes.select("pk", F.col("pk").alias("lbl"))
    win = Window.partitionBy("pk").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(_Q624_ITERS):
        cnt = (
            edges.join(
                lab.select(F.col("pk").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("pk"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        mode = (
            cnt.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") == 1)
            .select("pk", F.col("lbl").alias("nlbl"))
        )
        lab = (
            lab.join(mode, "pk", "left")
            .select(
                "pk", F.coalesce(F.col("nlbl"), F.col("lbl")).alias("lbl")
            )
            .localCheckpoint()
        )
    comm = lab.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    top = comm.orderBy(F.desc("n_members"), F.asc("lbl")).limit(_Q624_TOP)
    w2 = Window.orderBy(F.desc("n_members"), F.asc("lbl"))
    return top.withColumn(
        "rank_pos", F.row_number().over(w2).cast("long")
    ).select(
        "rank_pos", F.col("lbl").alias("community_label"), "n_members"
    )


# ---------------------------------------------------------------------------
# q625 — Cramér's V association matrix over categorical pairs
# ---------------------------------------------------------------------------
#
# The categorical correlation matrix (q35's Pearson profile for
# category columns; extends q208's single chi-sq): for each pair of
# (market segment, order priority, order status) on the orders ⋈
# customer relation, chi-square from exact contingency counts
# (per-cell (o−e)²/e terms, 9dp, decimal-summed) and
# V = sqrt(χ²/(n·min(r−1,c−1))).  One generic long-format pipeline
# handles every pair — no per-pair code.

_Q625_CHI_T = (
    "round(pow(CAST(o AS DOUBLE)"
    " - CAST(rt AS DOUBLE) * ct / n, 2)"
    " / (CAST(rt AS DOUBLE) * ct / n), 9)"
)
_Q625_CHI = "round(CAST(chi AS DOUBLE), 6)"
_Q625_V = (
    "round(sqrt(CAST(chi AS DOUBLE)"
    " / (CAST(n AS DOUBLE)"
    " * (CASE WHEN r < c THEN r ELSE c END - 1))), 6)"
)


def _q625_oracle() -> str:
    pairs = [
        ("seg_x_priority", "c_mktsegment", "o_orderpriority"),
        ("seg_x_status", "c_mktsegment", "o_orderstatus"),
        ("priority_x_status", "o_orderpriority", "o_orderstatus"),
    ]
    sel = " UNION ALL ".join(
        f"""SELECT '{nm}' AS pair, {ca} AS av, {cb} AS bv
            FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey"""
        for nm, ca, cb in pairs
    )
    return f"""
        WITH v AS MATERIALIZED ({sel}),
        cells AS MATERIALIZED (
            SELECT pair, av, bv, CAST(COUNT(*) AS BIGINT) AS o
            FROM v GROUP BY 1, 2, 3
        ),
        rows_ AS MATERIALIZED (
            SELECT pair, av, CAST(SUM(o) AS BIGINT) AS rt
            FROM cells GROUP BY 1, 2
        ),
        cols_ AS MATERIALIZED (
            SELECT pair, bv, CAST(SUM(o) AS BIGINT) AS ct
            FROM cells GROUP BY 1, 2
        ),
        tots AS MATERIALIZED (
            SELECT pair, CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT av) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT bv) AS BIGINT) AS c
            FROM cells GROUP BY 1
        ),
        chi AS (
            SELECT ce.pair,
                   CAST(SUM(CAST({_Q625_CHI_T} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS chi
            FROM cells ce
            JOIN rows_ r2 ON ce.pair = r2.pair AND ce.av = r2.av
            JOIN cols_ c2 ON ce.pair = c2.pair AND ce.bv = c2.bv
            JOIN tots t ON ce.pair = t.pair
            GROUP BY 1
        )
        SELECT t.pair AS pair, t.n AS n_rows,
               t.r AS r_levels, t.c AS c_levels,
               {_Q625_CHI} AS chi_sq, {_Q625_V} AS cramers_v
        FROM chi JOIN tots t ON chi.pair = t.pair
    """


@query("q625_cramers_v_matrix", oracle=_q625_oracle())
def q625_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V association matrix over the three categorical
    pairs of the orders ⋈ customer relation — the category-valued
    correlation profile (q35 for categories, q208 generalized):
    exact contingency cells, expected counts as exact ratios inside
    one portable per-cell term (9dp, decimal-summed), V from χ² and
    the exact level counts.  V ∈ [0,1] and χ² ≥ 0 pinned in tests.

    Scale shape: one fact-dimension join scanned once into a
    long-format (pair, a, b) relation — cells/margins/totals are
    grouped aggregates; the term join is cell-grain (bounded by the
    level-count product)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).localCheckpoint()
    pairs = [
        ("seg_x_priority", "c_mktsegment", "o_orderpriority"),
        ("seg_x_status", "c_mktsegment", "o_orderstatus"),
        ("priority_x_status", "o_orderpriority", "o_orderstatus"),
    ]
    v = None
    for nm, ca, cb in pairs:
        part = j.select(
            F.lit(nm).alias("pair"),
            F.col(ca).alias("av"),
            F.col(cb).alias("bv"),
        )
        v = part if v is None else v.unionByName(part)
    cells = v.groupBy("pair", "av", "bv").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint()
    rows_ = cells.groupBy("pair", "av").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_ = cells.groupBy("pair", "bv").agg(
        F.sum("o").cast("long").alias("ct")
    )
    tots = cells.groupBy("pair").agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("av").cast("long").alias("r"),
        F.countDistinct("bv").cast("long").alias("c"),
    ).localCheckpoint()
    chi = (
        cells.join(rows_, ["pair", "av"])
        .join(cols_, ["pair", "bv"])
        .join(F.broadcast(tots), "pair")
        .select(
            "pair",
            F.expr(_Q625_CHI_T).cast("decimal(28,9)").alias("term"),
        )
        .groupBy("pair")
        .agg(F.sum("term").cast("decimal(28,9)").alias("chi"))
    )
    return chi.join(F.broadcast(tots), "pair").select(
        "pair",
        F.col("n").alias("n_rows"),
        F.col("r").alias("r_levels"),
        F.col("c").alias("c_levels"),
        F.expr(_Q625_CHI).alias("chi_sq"),
        F.expr(_Q625_V).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q626 — binned precision/recall curve of the en-detector
# ---------------------------------------------------------------------------
#
# The operating-point view that q607 (AUC) and q608 (AP) summarize
# away: for each score threshold (predict positive when s4 ≥ t),
# exact TP/FP from a suffix fold over the score grain, precision,
# recall and F1 as portable ratios.  This is the table a launch gate
# (q430-class) reads to pick a threshold.

_Q626_PREC = "round(CAST(tp AS DOUBLE) / np_pred, 6)"
_Q626_REC = "round(CAST(tp AS DOUBLE) / pos, 6)"
_Q626_F1 = (
    "round(2 * CAST(tp AS DOUBLE)"
    " / (CAST(np_pred AS DOUBLE) + pos), 6)"
)


def _q626_oracle() -> str:
    q37 = QUERIES["q37_text_quality"].oracle
    return f"""
        WITH q37 AS MATERIALIZED ({q37}),
        scored AS MATERIALIZED (
            SELECT CAST(q37.quality_score * 4 AS BIGINT) AS s4,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q37 JOIN documents d ON q37.doc_id = d.doc_id
        ),
        grain AS MATERIALIZED (
            SELECT s4, CAST(SUM(y) AS BIGINT) AS gp,
                   CAST(COUNT(*) AS BIGINT) AS gt
            FROM scored GROUP BY 1
        ),
        suff AS (
            SELECT s4,
                   CAST(SUM(gp) OVER (ORDER BY s4 DESC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                   CAST(SUM(gt) OVER (ORDER BY s4 DESC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS np_pred
            FROM grain
        ),
        tot AS (SELECT CAST(SUM(gp) AS BIGINT) AS pos FROM grain)
        SELECT s4 AS threshold_s4, np_pred AS n_predicted, tp,
               {_Q626_PREC} AS precision_at, {_Q626_REC} AS recall_at,
               {_Q626_F1} AS f1_at
        FROM suff, tot
    """


@query("q626_precision_recall_curve", oracle=_q626_oracle())
def q626_precision_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BINNED PRECISION/RECALL CURVE of the quality-score
    en-detector — the per-threshold operating points behind q607's
    AUC and q608's AP: suffix TP/predicted counts over the ≤5-cell
    score grain (exact_cumsum on descending score), precision,
    recall, F1 as portable exact ratios.  Monotone recall and the
    AP-consistency property are pinned in tests.

    Scale shape: one corpus scan → score grain → ordered suffix
    fold → one 1-row total joined back; rows = |score grain|."""
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

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
                F.when(F.col("lang") == "en", 1)
                .otherwise(0)
                .cast("long")
                .alias("y"),
            ),
            "doc_id",
        )
    )
    grain = (
        scored.groupBy("s4")
        .agg(
            F.sum("y").cast("long").alias("gp"),
            F.count(F.lit(1)).cast("long").alias("gt"),
        )
        .withColumn("s4neg", -F.col("s4"))
        .localCheckpoint()
    )
    suff = exact_cumsum(grain, ["s4neg"], "gt", out_col="np_pred")
    suff = exact_cumsum(suff, ["s4neg"], "gp", out_col="tp").select(
        "s4",
        F.col("tp").cast("long").alias("tp"),
        F.col("np_pred").cast("long").alias("np_pred"),
    )
    tot = grain.agg(F.sum("gp").cast("long").alias("pos"))
    return suff.crossJoin(F.broadcast(tot)).select(
        F.col("s4").alias("threshold_s4"),
        F.col("np_pred").alias("n_predicted"),
        "tp",
        F.expr(_Q626_PREC).alias("precision_at"),
        F.expr(_Q626_REC).alias("recall_at"),
        F.expr(_Q626_F1).alias("f1_at"),
    )


# ===========================================================================
# Former r16 window queue (q627-q656) — registered ``defer=True``
# during round 15 (the VERDICT r13 #2 discipline); the flags were
# cleared at round-16 rollover so these 30 lanes front the r16 driver
# window: streaming twins of round-15 batch lanes, then further batch
# families.
# ===========================================================================


def _q627_ingest(li_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's co-order edges + node grain (the q585 ingest
    shape: orders are atomic per epoch, so edges are batch-local)."""
    a = li_epoch.select("ok", F.col("pk").alias("src"))
    b = li_epoch.select(F.col("ok").alias("ok2"), F.col("pk").alias("dst"))
    edges = (
        a.join(b, (a.ok == b.ok2) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
    )
    sinks.land(edges, epoch_id, f"{path}/edges")
    sinks.land(li_epoch.select("pk").distinct(), epoch_id, f"{path}/nodes")


@query(
    "q627_streaming_sssp",
    oracle=QUERIES["q619_sssp_weighted"].oracle,
)
def q627_streaming_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q619's weighted SSSP under STREAMING edge arrival — distance
    is a GLOBAL property (an epoch-local SSSP would relax against a
    partial graph), so each epoch lands its batch-local co-order
    edges in the epoch-idempotent sink (q585's graph-grain
    discipline) and the drain re-runs the exact Bellman–Ford
    iteration, hub re-derived from the full landed graph.  Drain ≡
    q619 under ANY order-grain slicing (edge weights are a pure
    function of the endpoints, so they need not be landed).

    Scale shape: per-epoch state is the batch's own distinct edges;
    the drain is q619's loop."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _Q514_MOD == 0)
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint()
    )
    root = fresh_scratch_dir("sssp_stream_", key=sf_dir)
    path = f"{root}/state"
    k = _r13._STREAM_EPOCHS  # read at call time: tests raise it
    for ep in range(k):
        _q627_ingest(
            li.filter(F.expr(f"ok DIV {_Q514_MOD}") % k == ep), ep, path
        )
    edges = (
        sinks.landed(spark, f"{path}/edges", "src long, dst long")
        .select("src", "dst")
        .distinct()
        .withColumn(
            "w", (1 + (F.col("src") + F.col("dst")) % 7).cast("long")
        )
        .localCheckpoint()
    )
    nodes = (
        sinks.landed(spark, f"{path}/nodes", "pk long")
        .select("pk")
        .distinct()
        .localCheckpoint()
    )
    mn = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("mn"))
    )
    dist = nodes.crossJoin(F.broadcast(mn)).select(
        "pk",
        F.when(F.col("pk") == F.col("mn"), F.lit(0))
        .cast("long")
        .alias("d"),
    )
    for _ in range(_Q619_ITERS):
        cand = (
            edges.join(
                dist.filter(F.col("d").isNotNull())
                .withColumnRenamed("pk", "src"),
                "src",
            )
            .groupBy(F.col("dst").alias("pk"))
            .agg(F.min(F.col("d") + F.col("w")).alias("nd"))
        )
        dist = (
            dist.join(cand, "pk", "left")
            .select("pk", F.expr(_Q619_STEP).cast("long").alias("d"))
            .localCheckpoint()
        )
    top = (
        dist.filter(F.col("d").isNotNull())
        .orderBy(F.asc("d"), F.asc("pk"))
        .limit(_Q619_TOP)
    )
    w = Window.orderBy(F.asc("d"), F.asc("pk"))
    return top.withColumn(
        "rank_pos", F.row_number().over(w).cast("long")
    ).select("rank_pos", "pk", F.col("d").alias("dist"))


def _q628_ingest(scored_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's scored docs (doc grain — scoring is a pure
    per-doc function, so it is batch-local by construction)."""
    sinks.land(scored_epoch, epoch_id, path)


@query(
    "q628_streaming_average_precision",
    oracle=QUERIES["q608_exact_average_precision"].oracle,
)
def q628_streaming_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q608's exact AP under STREAMING corpus arrival — the eval
    metric as a maintained view: docs arrive in doc-grain epochs,
    each batch scores its own documents (quality is per-doc pure,
    hence batch-local) and lands (doc_id, s4, pos) in the
    epoch-idempotent sink; ranking is GLOBAL, so the drain re-runs
    the two exact_cumsum rank passes over the landed corpus.
    Drain ≡ q608 under ANY doc-grain slicing.

    Scale shape: per-epoch scoring touches only the batch; the
    drain is q608's two range-partitioned folds."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    d = read_table(spark, sf_dir, "documents").localCheckpoint()
    root = fresh_scratch_dir("ap_stream_", key=sf_dir)
    path = f"{root}/scored"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        batch = d.filter(F.col("doc_id") % k == ep)
        scored = (
            TX.quality_features(batch)
            .select(
                "doc_id",
                (F.col("quality_score") * 4).cast("long").alias("s4"),
            )
            .join(
                batch.select(
                    "doc_id", (F.col("lang") == "en").alias("pos")
                ),
                "doc_id",
            )
        )
        _q628_ingest(scored, ep, path)
    landed = (
        sinks.landed(spark, path, "doc_id long, s4 long, pos boolean")
        .select("doc_id", "s4", "pos")
        .withColumn("s4neg", -F.col("s4"))
        .withColumn("one", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    ranked = exact_cumsum(landed, ["s4neg", "doc_id"], "one", out_col="rn")
    pos = ranked.filter(F.col("pos")).localCheckpoint()
    pranked = exact_cumsum(pos, ["s4neg", "doc_id"], "one", out_col="j")
    card = pranked.select(
        F.round(
            F.col("j").cast("double") / F.col("rn").cast("double"), 9
        )
        .cast("decimal(28,9)")
        .alias("term")
    ).agg(
        F.sum("term").cast("decimal(28,9)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    tot = landed.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return card.crossJoin(tot).select(
        F.col("n").alias("n_ranked"),
        F.col("np").alias("n_positive"),
        F.expr(_Q608_AP).alias("ap"),
    )


def _q629_ingest(v_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's bin partials — counts are MERGEABLE, so the
    landed state is a per-epoch partial aggregate, not raw rows (the
    q132 incremental-agg discipline applied to a feature audit)."""
    sinks.land(
        v_epoch.groupBy("bin")
        .agg(
            F.sum("y").cast("long").alias("gb"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("bb"),
        ),
        epoch_id,
        path,
    )


@query(
    "q629_streaming_woe",
    oracle=QUERIES["q616_woe_information_value"].oracle,
)
def q629_streaming_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q616's WoE/IV audit under STREAMING customer arrival — the
    mergeable-partial twin: bin counts are additive, so each epoch
    lands its own (bin, good, bad) partial aggregate and the drain
    just SUMs partials before the portable ln edge.  Drain ≡ q616
    under ANY customer-grain slicing — the cheapest possible
    streaming-maintenance shape (state = one partial per bin per
    epoch, not raw rows).

    Scale shape: per-epoch partial aggregation map-side; drain is a
    bin-grain rollup + 1-row totals."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    c = read_table(spark, sf_dir, "customer").localCheckpoint()
    root = fresh_scratch_dir("woe_stream_", key=sf_dir)
    path = f"{root}/bins"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        v = c.filter(F.col("c_custkey") % k == ep).select(
            F.expr(
                "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)"
                " DIV 100000"
            ).alias("bin"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .cast("long")
            .alias("y"),
        )
        _q629_ingest(v, ep, path)
    bins = (
        sinks.landed(spark, path, "bin long, gb long, bb long")
        .groupBy("bin")
        .agg(
            F.sum("gb").cast("long").alias("gb"),
            F.sum("bb").cast("long").alias("bb"),
        )
        .localCheckpoint()
    )
    tot = bins.agg(
        F.sum("gb").cast("long").alias("g"),
        F.sum("bb").cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("gb").alias("n_good"),
        F.col("bb").alias("n_bad"),
        F.expr(_Q616_WOE).alias("woe"),
        F.expr(_Q616_IVC).alias("iv_contrib"),
    )


def _q630_ingest(o_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's monthly revenue partials (additive)."""
    sinks.land(
        o_epoch.groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("m")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        ),
        epoch_id,
        path,
    )


@query(
    "q630_streaming_holt",
    oracle=QUERIES["q622_holt_linear_trend"].oracle,
)
def q630_streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q622's Holt linear trend under STREAMING order arrival — the
    smoothing state is sequential over MONTHS, not arrival order, so
    each epoch lands additive monthly revenue partials and the drain
    merges them before running the exact integer fold over the
    bounded grid.  Drain ≡ q622 under ANY order-grain slicing
    (month sums are commutative — the only order that matters is the
    month axis, reconstructed at drain).

    Scale shape: per-epoch partial rollup; drain = month-grain merge
    + the bounded-grid Python fold."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    root = fresh_scratch_dir("holt_stream_", key=sf_dir)
    path = f"{root}/monthly"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        _q630_ingest(o.filter(F.col("o_orderkey") % k == ep), ep, path)
    monthly = (
        sinks.landed(spark, path, "m string, x long")
        .groupBy("m")
        .agg(F.sum("x").cast("long").alias("x"))
        .orderBy("m")
        .collect()
    )
    xs = [int(r["x"]) for r in monthly]
    n = len(xs)
    lvl, tr = xs[1], xs[1] - xs[0]
    sae, ne = 0, 0
    for t in range(2, n):
        f = lvl + tr
        sae += abs(xs[t] - f)
        ne += 1
        lnew = _q622_d10(2 * xs[t] + 8 * (lvl + tr))
        tr = _q622_d10((lnew - lvl) + 9 * tr)
        lvl = lnew
    return spark.createDataFrame(
        [(n, lvl, tr, lvl + tr, sae, ne)],
        "n_months long, final_level_cents long, final_trend_cents long,"
        " forecast_next_cents long, sae_cents long, n_eval long",
    )


def _q631_ingest(cells_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's contingency-cell partials (additive)."""
    sinks.land(cells_epoch, epoch_id, path)


@query(
    "q631_streaming_cramers_v",
    oracle=QUERIES["q625_cramers_v_matrix"].oracle,
)
def q631_streaming_cramers_v(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q625's Cramér's V matrix under STREAMING order arrival — the
    contingency table is a mergeable aggregate: each epoch joins its
    order batch to the static customer dimension (stream–static
    join) and lands (pair, a, b, count) cell partials; the drain
    sums cells and runs the identical χ²/V edge.  Drain ≡ q625
    under ANY order-grain slicing.

    Scale shape: per-epoch cell partials bounded by the level-count
    product; drain is cell-grain merge + the q625 arithmetic."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    cust = read_table(spark, sf_dir, "customer").localCheckpoint()
    root = fresh_scratch_dir("cramers_stream_", key=sf_dir)
    path = f"{root}/cells"
    k = _r13._STREAM_EPOCHS
    pairs = [
        ("seg_x_priority", "c_mktsegment", "o_orderpriority"),
        ("seg_x_status", "c_mktsegment", "o_orderstatus"),
        ("priority_x_status", "o_orderpriority", "o_orderstatus"),
    ]
    for ep in range(k):
        j = o.filter(F.col("o_orderkey") % k == ep).join(
            cust, F.col("o_custkey") == F.col("c_custkey")
        )
        v = None
        for nm, ca, cb in pairs:
            part = j.select(
                F.lit(nm).alias("pair"),
                F.col(ca).alias("av"),
                F.col(cb).alias("bv"),
            )
            v = part if v is None else v.unionByName(part)
        cells = v.groupBy("pair", "av", "bv").agg(
            F.count(F.lit(1)).cast("long").alias("o")
        )
        _q631_ingest(cells, ep, path)
    cells = (
        sinks.landed(spark, path, "pair string, av string, bv string, o long")
        .groupBy("pair", "av", "bv")
        .agg(F.sum("o").cast("long").alias("o"))
        .localCheckpoint()
    )
    rows_ = cells.groupBy("pair", "av").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_ = cells.groupBy("pair", "bv").agg(
        F.sum("o").cast("long").alias("ct")
    )
    tots = cells.groupBy("pair").agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("av").cast("long").alias("r"),
        F.countDistinct("bv").cast("long").alias("c"),
    ).localCheckpoint()
    chi = (
        cells.join(rows_, ["pair", "av"])
        .join(cols_, ["pair", "bv"])
        .join(F.broadcast(tots), "pair")
        .select(
            "pair",
            F.expr(_Q625_CHI_T).cast("decimal(28,9)").alias("term"),
        )
        .groupBy("pair")
        .agg(F.sum("term").cast("decimal(28,9)").alias("chi"))
    )
    return chi.join(F.broadcast(tots), "pair").select(
        "pair",
        F.col("n").alias("n_rows"),
        F.col("r").alias("r_levels"),
        F.col("c").alias("c_levels"),
        F.expr(_Q625_CHI).alias("chi_sq"),
        F.expr(_Q625_V).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q632 — classical seasonal decomposition of monthly revenue
# ---------------------------------------------------------------------------
#
# The additive classical decomposition (public: the textbook
# moving-average method): trend = centered 12-month MA over the
# bounded monthly grid, kept exact by scaling ×24 (half-weights at
# the window ends become integers), seasonal index per
# month-of-year = mean of the exact detrended values.  One division
# at the edge.

_Q632_SEAS = "round(CAST(sd AS DOUBLE) / (24 * CAST(cnt AS DOUBLE)), 6)"


def _q632_oracle() -> str:
    return f"""
        WITH monthly AS MATERIALIZED (
            SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        idx AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT)
                       AS i,
                   CAST(substr(m, 6, 2) AS BIGINT) AS moy, x
            FROM monthly
        ),
        offs AS (
            SELECT unnest([-6, -5, -4, -3, -2, -1, 0, 1, 2, 3, 4, 5,
                           6]) AS off
        ),
        tr AS MATERIALIZED (
            SELECT a.i, a.moy, a.x,
                   CAST(SUM(CASE WHEN abs(o.off) = 6 THEN b.x
                            ELSE 2 * b.x END) AS BIGINT) AS trend24
            FROM idx a
            JOIN offs o ON TRUE
            JOIN idx b ON b.i = a.i + o.off
            GROUP BY 1, 2, 3 HAVING COUNT(*) = 13
        ),
        det AS MATERIALIZED (
            SELECT moy, CAST(24 * x - trend24 AS BIGINT) AS d24
            FROM tr
        )
        SELECT moy AS month_of_year,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               {_Q632_SEAS.replace("sd", "SUM(d24)")
                          .replace("cnt", "COUNT(*)")} AS seasonal_cents
        FROM det GROUP BY 1
    """


@query("q632_seasonal_decomposition", oracle=_q632_oracle())
def q632_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION of monthly revenue — the
    month-of-year seasonal index from exact integers: centered
    12-month moving-average trend scaled ×24 (end half-weights
    become integers — no float upstream), detrended values exact,
    one portable division per month-of-year at the edge.  Extends
    q530's day-of-week index to the trend-adjusted monthly classic;
    the 12-row month-of-year grain and full-window trend coverage
    are pinned in tests.

    Scale shape: one scan → bounded monthly grid; the 13-tap window
    is a literal-offset self-join on the grid (the q614 lag-grid
    shape), month-of-year rollup after."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    o = read_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("m")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    idx = exact_cumsum(monthly, ["m"], "one", out_col="i").select(
        F.col("i").cast("long").alias("i"),
        F.substring(F.col("m"), 6, 2).cast("long").alias("moy"),
        "x",
    ).localCheckpoint()
    a = idx.withColumn(
        "off", F.explode(F.array(*[F.lit(k) for k in range(-6, 7)]))
    ).withColumn("ib", F.col("i") + F.col("off"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    tr = (
        a.join(b, "ib")
        .groupBy("i", "moy", "x")
        .agg(
            F.sum(
                F.when(F.abs(F.col("off")) == 6, F.col("xb")).otherwise(
                    2 * F.col("xb")
                )
            )
            .cast("long")
            .alias("trend24"),
            F.count(F.lit(1)).alias("ntap"),
        )
        .filter(F.col("ntap") == 13)
    )
    det = tr.select(
        "moy", (24 * F.col("x") - F.col("trend24")).cast("long").alias(
            "d24"
        )
    )
    return det.groupBy(F.col("moy").alias("month_of_year")).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.expr(
            _Q632_SEAS.replace("sd", "SUM(d24)").replace(
                "cnt", "COUNT(*)"
            )
        ).alias("seasonal_cents"),
    )


# ---------------------------------------------------------------------------
# q633 — Fellegi–Sunter match/unmatch weights for record linkage
# ---------------------------------------------------------------------------
#
# The probabilistic record-linkage classic (public: Fellegi & Sunter
# 1969): over n_chars-blocked candidate doc pairs with exact-dup
# ground truth (identical md5(text) — the q42 planted structure),
# estimate per-feature m = P(agree|match) and u = P(agree|unmatch)
# with +1/+2 Laplace cells and emit the ln(m/u) agreement and
# ln((1−m)/(1−u)) disagreement weights a linkage scorer would sum.

_Q633_M = "((CAST(ma AS DOUBLE) + 1) / (CAST(mt AS DOUBLE) + 2))"
_Q633_U = "((CAST(ua AS DOUBLE) + 1) / (CAST(ut AS DOUBLE) + 2))"
_Q633_WA = f"round(ln({_Q633_M} / {_Q633_U}), 6)"
_Q633_WD = f"round(ln((1 - {_Q633_M}) / (1 - {_Q633_U})), 6)"


def _q633_oracle() -> str:
    feats = [
        ("lang_agree", "a.lang = b.lang"),
        ("source_agree", "a.source = b.source"),
        ("prefix16_agree", "substr(a.text, 1, 16) = substr(b.text, 1, 16)"),
    ]
    sel = " UNION ALL ".join(
        f"""SELECT '{nm}' AS feature,
                   CASE WHEN {cond} THEN 1 ELSE 0 END AS agree,
                   CASE WHEN md5(a.text) = md5(b.text)
                        THEN 1 ELSE 0 END AS match
            FROM documents a JOIN documents b
            ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id"""
        for nm, cond in feats
    )
    return f"""
        WITH pairs AS MATERIALIZED ({sel}),
        agg AS (
            SELECT feature,
                   CAST(SUM(agree * match) AS BIGINT) AS ma,
                   CAST(SUM(match) AS BIGINT) AS mt,
                   CAST(SUM(agree * (1 - match)) AS BIGINT) AS ua,
                   CAST(SUM(1 - match) AS BIGINT) AS ut
            FROM pairs GROUP BY 1
        )
        SELECT feature, mt AS n_match_pairs, ut AS n_unmatch_pairs,
               round({_Q633_M}, 6) AS m_prob,
               round({_Q633_U}, 6) AS u_prob,
               {_Q633_WA} AS agree_weight,
               {_Q633_WD} AS disagree_weight
        FROM agg
    """


@query("q633_fellegi_sunter", oracle=_q633_oracle())
def q633_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI–SUNTER weight estimation on n_chars-blocked doc pairs
    with exact-dup truth — the probabilistic layer over q570's
    deterministic sorted-neighborhood linkage: per comparison
    feature (lang / source / 16-char prefix), Laplace-smoothed
    m and u and the ln match/unmatch weights.  agree_weight > 0 >
    disagree_weight for informative features is pinned in tests.

    Scale shape: the blocked self-join is the linkage candidate set
    (block key = n_chars; candidate count is Σ block² — the q570
    blocking discipline); one long-format pass scores all features,
    then a 3-row aggregate."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.md5("text").alias("h"),
        F.substring("text", 1, 16).alias("pref"),
    ).localCheckpoint()
    a, b = d.alias("a"), d.alias("b")
    joined = a.join(
        b,
        (F.col("a.n_chars") == F.col("b.n_chars"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        (F.col("a.h") == F.col("b.h")).cast("long").alias("match"),
        (F.col("a.lang") == F.col("b.lang")).cast("long").alias(
            "lang_agree"
        ),
        (F.col("a.source") == F.col("b.source")).cast("long").alias(
            "source_agree"
        ),
        (F.col("a.pref") == F.col("b.pref")).cast("long").alias(
            "prefix16_agree"
        ),
    ).localCheckpoint()
    out = None
    for nm in ["lang_agree", "source_agree", "prefix16_agree"]:
        part = joined.select(
            F.lit(nm).alias("feature"),
            F.col(nm).alias("agree"),
            "match",
        )
        out = part if out is None else out.unionByName(part)
    agg = out.groupBy("feature").agg(
        F.sum(F.col("agree") * F.col("match")).cast("long").alias("ma"),
        F.sum("match").cast("long").alias("mt"),
        F.sum(F.col("agree") * (1 - F.col("match")))
        .cast("long")
        .alias("ua"),
        F.sum(1 - F.col("match")).cast("long").alias("ut"),
    )
    return agg.select(
        "feature",
        F.col("mt").alias("n_match_pairs"),
        F.col("ut").alias("n_unmatch_pairs"),
        F.round(F.expr(_Q633_M), 6).alias("m_prob"),
        F.round(F.expr(_Q633_U), 6).alias("u_prob"),
        F.expr(_Q633_WA).alias("agree_weight"),
        F.expr(_Q633_WD).alias("disagree_weight"),
    )


# ---------------------------------------------------------------------------
# q634 — critical path (max-plus longest path) on the planted DAG
# ---------------------------------------------------------------------------
#
# q619's Bellman–Ford on the MAX-PLUS semiring — the scheduling
# question (critical-path method, public CPM): direct each co-order
# edge low→high part key (acyclic by construction), weight as q619,
# and after 8 relaxations report the longest ≤8-edge path ending at
# each node.  Init 0 everywhere (every node is a valid path start),
# so no NULL algebra is needed.

_Q634_ITERS = 8
_Q634_TOP = 20


def _q634_oracle() -> str:
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    head = f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % {_Q514_MOD} = 0
        ),
        edges AS MATERIALIZED (
            SELECT src, dst, CAST(1 + (src + dst) % 7 AS BIGINT) AS w
            FROM (
                SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            )
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT pk FROM li),
        d0 AS MATERIALIZED (
            SELECT pk, CAST(0 AS BIGINT) AS d FROM nodes
        )"""
    steps = []
    for i in range(1, _Q634_ITERS + 1):
        steps.append(f""",
        d{i} AS MATERIALIZED (
            SELECT n.pk,
                   CAST(CASE WHEN f.nd IS NULL OR f.nd <= n.d
                             THEN n.d ELSE f.nd END AS BIGINT) AS d
            FROM d{i - 1} n LEFT JOIN (
                SELECT e.dst AS pk, MAX(p.d + e.w) AS nd
                FROM d{i - 1} p
                JOIN edges e ON e.src = p.pk
                GROUP BY 1
            ) f ON n.pk = f.pk
        )""")
    return (
        head
        + "".join(steps)
        + f"""
        SELECT rank_pos, pk, critical_len FROM (
            SELECT CAST(row_number() OVER (ORDER BY d DESC, pk)
                        AS BIGINT) AS rank_pos,
                   pk, d AS critical_len
            FROM d{_Q634_ITERS}
        ) WHERE rank_pos <= {_Q634_TOP}
    """
    )


@query("q634_critical_path", oracle=_q634_oracle())
def q634_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRITICAL PATH (max-plus Bellman–Ford, {_Q634_ITERS} unrolled
    rounds) on the planted co-order DAG — q619's relaxation loop on
    the max-plus semiring, the scheduling/CPM rung of the graph
    family: edges directed low→high part key (acyclic by key order),
    longest ≤{_Q634_ITERS}-edge path ending at each node, top
    {_Q634_TOP} by (length DESC, pk).  Init 0 everywhere, so the
    combine needs no NULL algebra.

    Scale shape: identical to q619 — keyed join + grouped MAX per
    round, no driver state, localCheckpoint per round."""
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
        a.join(b, (a.ok == b.ok2) & (F.col("src") < F.col("dst")))
        .select("src", "dst")
        .distinct()
        .withColumn(
            "w", (1 + (F.col("src") + F.col("dst")) % 7).cast("long")
        )
        .localCheckpoint()
    )
    dist = li.select("pk").distinct().withColumn(
        "d", F.lit(0).cast("long")
    )
    for _ in range(_Q634_ITERS):
        cand = (
            edges.join(dist.withColumnRenamed("pk", "src"), "src")
            .groupBy(F.col("dst").alias("pk"))
            .agg(F.max(F.col("d") + F.col("w")).alias("nd"))
        )
        dist = (
            dist.join(cand, "pk", "left")
            .select(
                "pk",
                F.when(
                    F.col("nd").isNull() | (F.col("nd") <= F.col("d")),
                    F.col("d"),
                )
                .otherwise(F.col("nd"))
                .cast("long")
                .alias("d"),
            )
            .localCheckpoint()
        )
    top = dist.orderBy(F.desc("d"), F.asc("pk")).limit(_Q634_TOP)
    w = Window.orderBy(F.desc("d"), F.asc("pk"))
    return top.withColumn(
        "rank_pos", F.row_number().over(w).cast("long")
    ).select("rank_pos", "pk", F.col("d").alias("critical_len"))


# ---------------------------------------------------------------------------
# q635 — mean-excess (EVT tail) card over order values
# ---------------------------------------------------------------------------
#
# The extreme-value diagnostic (public: the mean-excess plot of EVT):
# for a literal threshold grid, the count, mean excess and max of
# order values above each threshold — linear-in-u mean excess is the
# GPD signature a tail-risk model checks before fitting.  Exact
# integer sums; one portable division per row.

_Q635_GRID = [10_000_000, 20_000_000, 30_000_000, 40_000_000]
_Q635_ME = "round(CAST(se AS DOUBLE) / ne, 6)"
_Q635_TF = "round(CAST(ne AS DOUBLE) / n, 6)"


def _q635_oracle() -> str:
    grid = ", ".join(str(u) for u in _Q635_GRID)
    return f"""
        WITH v AS MATERIALIZED (
            SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       AS cents
            FROM orders
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        g AS (SELECT unnest([{grid}]) AS u),
        exceed AS (
            SELECT g.u, CAST(COUNT(*) AS BIGINT) AS ne,
                   CAST(SUM(v.cents - g.u) AS BIGINT) AS se,
                   CAST(MAX(v.cents) AS BIGINT) AS mx
            FROM g JOIN v ON v.cents > g.u
            GROUP BY 1
        )
        SELECT CAST(e.u AS BIGINT) AS threshold_cents, e.ne AS n_exceed,
               {_Q635_ME} AS mean_excess_cents,
               e.mx AS max_cents, {_Q635_TF} AS tail_fraction
        FROM exceed e, tot
    """


@query("q635_mean_excess_evt", oracle=_q635_oracle())
def q635_mean_excess_evt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEAN-EXCESS CARD over order values at a literal threshold
    grid — the EVT tail diagnostic (linear mean excess ⇒ GPD tail)
    next to q531's MAD outliers and q549's Benford audit: per
    threshold the exceedance count, exact mean excess, max and tail
    fraction.  Mean excess monotonicity checks are pinned in tests.

    Scale shape: one scan × a 4-row literal grid (range join on a
    constant grid — each row lands in its qualifying thresholds
    map-side), grouped exact sums."""
    o = read_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        )
    ).localCheckpoint()
    tot = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = v.withColumn(
        "u", F.explode(F.array(*[F.lit(u) for u in _Q635_GRID]))
    ).filter(F.col("cents") > F.col("u"))
    exceed = g.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("ne"),
        F.sum(F.col("cents") - F.col("u")).cast("long").alias("se"),
        F.max("cents").cast("long").alias("mx"),
    )
    return exceed.crossJoin(F.broadcast(tot)).select(
        F.col("u").cast("long").alias("threshold_cents"),
        F.col("ne").alias("n_exceed"),
        F.expr(_Q635_ME).alias("mean_excess_cents"),
        F.col("mx").alias("max_cents"),
        F.expr(_Q635_TF).alias("tail_fraction"),
    )


# ---------------------------------------------------------------------------
# q636 — log-log price elasticity per brand (grouped OLS on ln scale)
# ---------------------------------------------------------------------------
#
# The econometrics rung over q527's linear grouped OLS: elasticity =
# d ln(qty)/d ln(price) per brand from the (brand, month) demand
# grid.  Each ln term is computed from exact integer cents/units by
# an identical IEEE sequence, 9dp-rounded, decimal-summed per brand;
# the OLS slope is one portable expression over the decimal moments.

_Q636_LX = "ln(CAST(r AS DOUBLE) / (100 * CAST(q AS DOUBLE)))"
_Q636_LY = "ln(CAST(q AS DOUBLE))"
_Q636_SLOPE = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
)
_Q636_R = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
)


def _q636_oracle() -> str:
    return f"""
        WITH bm AS MATERIALIZED (
            SELECT p.p_brand AS brand,
                   strftime(CAST(l.l_shipdate AS DATE), '%Y-%m') AS m,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                       AS q,
                   CAST(SUM(CAST(round(l.l_extendedprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS r
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        terms AS MATERIALIZED (
            SELECT brand,
                   CAST(round({_Q636_LX}, 9) AS DECIMAL(28,9)) AS lx,
                   CAST(round({_Q636_LY}, 9) AS DECIMAL(28,9)) AS ly,
                   CAST(round({_Q636_LX} * ({_Q636_LY}), 9)
                        AS DECIMAL(28,9)) AS lxy,
                   CAST(round({_Q636_LX} * ({_Q636_LX}), 9)
                        AS DECIMAL(28,9)) AS lxx,
                   CAST(round({_Q636_LY} * ({_Q636_LY}), 9)
                        AS DECIMAL(28,9)) AS lyy
            FROM bm
        ),
        mom AS (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(lx) AS DECIMAL(28,9)) AS sx,
                   CAST(SUM(ly) AS DECIMAL(28,9)) AS sy,
                   CAST(SUM(lxy) AS DECIMAL(28,9)) AS sxy,
                   CAST(SUM(lxx) AS DECIMAL(28,9)) AS sxx,
                   CAST(SUM(lyy) AS DECIMAL(28,9)) AS syy
            FROM terms GROUP BY 1
        )
        SELECT brand, n AS n_months,
               {_Q636_SLOPE} AS elasticity,
               {_Q636_R} AS r_lnp_lnq
        FROM mom
    """


@query("q636_price_elasticity", oracle=_q636_oracle())
def q636_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-LOG PRICE ELASTICITY per brand — grouped OLS of ln(qty)
    on ln(unit price) over the (brand, month) demand grid (q527's
    OLS lifted to the ln scale): every ln term from exact integer
    cents/units by one identical IEEE expression, 9dp-rounded,
    decimal-summed; slope and correlation portable over the decimal
    moments.  |r| ≤ 1 and the 25-row brand grain are pinned in
    tests.

    Scale shape: fact scan + dimension join → (brand, month) rollup
    (bounded grid) → map-side ln terms → 25-row moment relation."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    bm = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM")
            .alias("m"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("q"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            )
            .cast("long")
            .alias("r"),
        )
    )
    terms = bm.select(
        "brand",
        F.expr(f"round({_Q636_LX}, 9)").cast("decimal(28,9)").alias("lx"),
        F.expr(f"round({_Q636_LY}, 9)").cast("decimal(28,9)").alias("ly"),
        F.expr(f"round({_Q636_LX} * ({_Q636_LY}), 9)")
        .cast("decimal(28,9)")
        .alias("lxy"),
        F.expr(f"round({_Q636_LX} * ({_Q636_LX}), 9)")
        .cast("decimal(28,9)")
        .alias("lxx"),
        F.expr(f"round({_Q636_LY} * ({_Q636_LY}), 9)")
        .cast("decimal(28,9)")
        .alias("lyy"),
    )
    mom = terms.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").cast("decimal(28,9)").alias("sx"),
        F.sum("ly").cast("decimal(28,9)").alias("sy"),
        F.sum("lxy").cast("decimal(28,9)").alias("sxy"),
        F.sum("lxx").cast("decimal(28,9)").alias("sxx"),
        F.sum("lyy").cast("decimal(28,9)").alias("syy"),
    )
    return mom.select(
        "brand",
        F.col("n").alias("n_months"),
        F.expr(_Q636_SLOPE).alias("elasticity"),
        F.expr(_Q636_R).alias("r_lnp_lnq"),
    )


# ---------------------------------------------------------------------------
# q637 — McNemar comparison: NB language-ID vs the q38 heuristic
# ---------------------------------------------------------------------------
#
# The paired classifier-comparison test (public: McNemar 1947): on
# q623's test half, compare the trained naive-Bayes detector against
# q38's stopword heuristic doc-by-doc.  Only the discordant cells
# carry information: χ²_cc = (|b−c|−1)²/(b+c) with continuity
# correction, from exact integer counts.

_Q637_CHI = (
    "round(pow(abs(CAST(b AS DOUBLE) - c) - 1, 2)"
    " / (CAST(b AS DOUBLE) + c), 6)"
)


def _q637_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _LANG_SCORES

    return f"""
        WITH {_q623_pred_chain()},
        hs AS MATERIALIZED (
            SELECT doc_id, {_LANG_SCORES}
            FROM documents
        ),
        heur AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0
                        THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
                        THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
                        THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
                        THEN 'es'
                        ELSE 'fr' END AS hpred
            FROM hs
        ),
        cmp AS (
            SELECT CASE WHEN h.hpred = p.true_lang THEN 1 ELSE 0 END
                       AS hok,
                   CASE WHEN p.pred_lang = p.true_lang THEN 1 ELSE 0
                       END AS nok
            FROM pred p JOIN heur h ON p.doc_id = h.doc_id
        ),
        card AS (
            SELECT CAST(SUM(hok * nok) AS BIGINT) AS both_right,
                   CAST(SUM((1 - hok) * (1 - nok)) AS BIGINT)
                       AS both_wrong,
                   CAST(SUM(hok * (1 - nok)) AS BIGINT) AS b,
                   CAST(SUM((1 - hok) * nok) AS BIGINT) AS c
            FROM cmp
        )
        SELECT both_right, both_wrong,
               b AS heur_only_right, c AS nb_only_right,
               {_Q637_CHI} AS mcnemar_chi2_cc,
               CASE WHEN c > b THEN 'nb' WHEN b > c THEN 'heuristic'
                    ELSE 'tie' END AS winner
        FROM card
    """


@query("q637_mcnemar_compare", oracle=_q637_oracle())
def q637_mcnemar_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR PAIRED COMPARISON of q623's trained NB detector vs
    q38's stopword heuristic on the same test docs — the honest way
    to claim one classifier beats another (marginal accuracies hide
    the pairing): exact discordant counts b/c, continuity-corrected
    χ², and the winner verdict.  both_right+both_wrong+b+c equals
    the compared-doc count, pinned in tests.

    Scale shape: the NB scoring pipeline (q623) + a map-side
    heuristic vote, one doc-grain join, a 1-row card."""
    from databricks_etl_spark.operators import text as TX

    d = read_table(spark, sf_dir, "documents")
    nb = _q623_pred_spark(spark, sf_dir)
    heur = TX.lang_id(d).select("doc_id", F.col("lang_pred").alias("hpred"))
    cmp_ = nb.join(heur, "doc_id").select(
        F.when(F.col("hpred") == F.col("true_lang"), 1)
        .otherwise(0)
        .cast("long")
        .alias("hok"),
        F.when(F.col("pred_lang") == F.col("true_lang"), 1)
        .otherwise(0)
        .cast("long")
        .alias("nok"),
    )
    card = cmp_.agg(
        F.sum(F.col("hok") * F.col("nok")).cast("long").alias(
            "both_right"
        ),
        F.sum((1 - F.col("hok")) * (1 - F.col("nok")))
        .cast("long")
        .alias("both_wrong"),
        F.sum(F.col("hok") * (1 - F.col("nok"))).cast("long").alias("b"),
        F.sum((1 - F.col("hok")) * F.col("nok")).cast("long").alias("c"),
    )
    return card.select(
        "both_right",
        "both_wrong",
        F.col("b").alias("heur_only_right"),
        F.col("c").alias("nb_only_right"),
        F.expr(_Q637_CHI).alias("mcnemar_chi2_cc"),
        F.when(F.col("c") > F.col("b"), "nb")
        .when(F.col("b") > F.col("c"), "heuristic")
        .otherwise("tie")
        .alias("winner"),
    )


def _q623_pred_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-doc NB predictions (doc_id, true_lang, pred_lang) —
    the q623 pipeline up to the argmax, reused by q637."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "text",
        "lang",
        (
            F.instr(
                F.lit(_Q623_HEX),
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("nb:"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    1,
                ),
            )
            > 0
        ).alias("is_train"),
    )
    toks = docs.select(
        "doc_id", "is_train", "lang",
        F.explode(tokens_col("text")).alias("token"),
    ).localCheckpoint()
    cls = (
        docs.filter(F.col("is_train"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("ndc"))
        .localCheckpoint()
    )
    ndt = cls.agg(F.sum("ndc").cast("long").alias("ndt"))
    ctf = (
        toks.filter(F.col("is_train"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    totc = ctf.groupBy("lang").agg(F.sum("tf").cast("long").alias("totc"))
    vv = ctf.agg(F.countDistinct("token").cast("long").alias("vv"))
    priors = cls.crossJoin(F.broadcast(ndt)).select(
        F.col("lang").alias("cand"),
        F.expr(_Q623_PRIOR).cast("decimal(28,9)").alias("lprior"),
    )
    cand = cls.select(F.col("lang").alias("cand"))
    tt = (
        toks.filter(~F.col("is_train"))
        .select("doc_id", F.col("lang").alias("true_lang"), "token")
        .crossJoin(F.broadcast(cand))
        .join(
            ctf.select(F.col("lang").alias("cand"), "token", "tf"),
            ["cand", "token"],
            "left",
        )
        .join(
            F.broadcast(totc.select(F.col("lang").alias("cand"), "totc")),
            "cand",
        )
        .crossJoin(F.broadcast(vv))
        .select(
            "doc_id",
            "true_lang",
            "cand",
            F.expr(
                _Q623_LP.replace(
                    "CAST(tf AS DOUBLE)",
                    "CAST(COALESCE(tf, 0) AS DOUBLE)",
                )
            )
            .cast("decimal(28,9)")
            .alias("term"),
        )
    )
    dscore = (
        tt.groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum("term").cast("decimal(28,9)").alias("sterm"))
        .join(F.broadcast(priors), "cand")
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("sterm") + F.col("lprior")).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand")
    )
    return (
        dscore.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select("doc_id", "true_lang", F.col("cand").alias("pred_lang"))
    )


# ---------------------------------------------------------------------------
# q638 — Cohen's kappa of the heuristic lang-id against truth
# ---------------------------------------------------------------------------
#
# Chance-corrected agreement (public: Cohen 1960): the q83 confusion
# matrix reduced to κ = (p_o − p_e)/(1 − p_e) with expected agreement
# from the exact marginal products — the single number an annotation
# pipeline quotes instead of raw accuracy.

_Q638_PO = "(CAST(agree AS DOUBLE) / n)"
_Q638_PE = "(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))"
_Q638_KAPPA = (
    f"round(({_Q638_PO} - {_Q638_PE}) / (1 - {_Q638_PE}), 6)"
)


def _q638_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _LANG_SCORES

    return f"""
        WITH hs AS MATERIALIZED (
            SELECT doc_id, lang, {_LANG_SCORES}
            FROM documents
        ),
        p AS MATERIALIZED (
            SELECT lang,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0
                        THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
                        THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
                        THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
                        THEN 'es'
                        ELSE 'fr' END AS pred
            FROM hs
        ),
        marg AS (
            SELECT COALESCE(r.lang, c.pred) AS label,
                   COALESCE(r.rn, 0) AS rn, COALESCE(c.cn, 0) AS cn
            FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS rn
                  FROM p GROUP BY 1) r
            FULL OUTER JOIN
                 (SELECT pred, CAST(COUNT(*) AS BIGINT) AS cn
                  FROM p GROUP BY 1) c
            ON r.lang = c.pred
        ),
        card AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n,
                   (SELECT CAST(SUM(CASE WHEN lang = pred THEN 1
                                    ELSE 0 END) AS BIGINT) FROM p)
                       AS agree,
                   CAST(SUM(rn * cn) AS BIGINT) AS pe_num
            FROM marg
        )
        SELECT n AS n_docs, agree AS n_agree,
               round({_Q638_PO}, 6) AS p_observed,
               round({_Q638_PE}, 6) AS p_expected,
               {_Q638_KAPPA} AS kappa
        FROM card
    """


@query("q638_cohens_kappa", oracle=_q638_oracle())
def q638_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA of the q38 stopword heuristic against the true
    language — chance-corrected agreement from exact marginal
    products (the q83 confusion matrix as one number).  κ ≤ p_o and
    the marginal algebra are pinned in tests.

    Scale shape: one heuristic-vote pass, two marginal aggregates
    full-outer-joined on the label, a 1-row card."""
    from databricks_etl_spark.operators import text as TX

    d = read_table(spark, sf_dir, "documents")
    p = (
        TX.lang_id(d)
        .join(d.select("doc_id", "lang"), "doc_id")
        .select("lang", F.col("lang_pred").alias("pred"))
        .localCheckpoint()
    )
    r = p.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("rn"))
    c = p.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    marg = (
        r.join(c, r.lang == c.pred, "full_outer")
        .select(
            F.coalesce(F.col("rn"), F.lit(0)).alias("rn"),
            F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
        )
    )
    tot = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    card = marg.agg(
        F.sum(F.col("rn") * F.col("cn")).cast("long").alias("pe_num")
    ).crossJoin(F.broadcast(tot))
    return card.select(
        F.col("n").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        F.round(F.expr(_Q638_PO), 6).alias("p_observed"),
        F.round(F.expr(_Q638_PE), 6).alias("p_expected"),
        F.expr(_Q638_KAPPA).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# q639 — local clustering coefficients on the planted graph
# ---------------------------------------------------------------------------
#
# The per-node closure card over q185's global triangle census:
# c_v = 2·t_v/(d_v(d_v−1)) with t_v the closed neighbor pairs (wedge
# join + edge semi-join — the q185 shape localized), top-10 by
# (coefficient, pk), plus the exact global transitivity columns.

_Q639_TOP = 10
_Q639_COEF = (
    "round(2 * CAST(t AS DOUBLE) / (CAST(d AS DOUBLE) * (d - 1)), 6)"
)
_Q639_GLOBAL = (
    "round(CAST(tsum AS DOUBLE) / CAST(wsum AS DOUBLE), 6)"
)


def _q639_oracle() -> str:
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    return f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % {_Q514_MOD} = 0
        ),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        ),
        deg AS MATERIALIZED (
            SELECT src AS pk, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1
        ),
        tri AS MATERIALIZED (
            SELECT e1.src AS pk, CAST(COUNT(*) AS BIGINT) AS t
            FROM edges e1 JOIN edges e2
              ON e1.src = e2.src AND e1.dst < e2.dst
            WHERE EXISTS (SELECT 1 FROM edges x
                          WHERE x.src = e1.dst AND x.dst = e2.dst)
            GROUP BY 1
        ),
        pernode AS MATERIALIZED (
            SELECT dg.pk, dg.d, COALESCE(tr.t, 0) AS t
            FROM deg dg LEFT JOIN tri tr ON dg.pk = tr.pk
            WHERE dg.d >= 2
        ),
        gl AS (
            SELECT CAST(SUM(t) AS BIGINT) AS tsum,
                   CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wsum
            FROM pernode
        )
        SELECT rank_pos, pk, d AS degree, t AS closed_pairs,
               coef, {_Q639_GLOBAL} AS global_transitivity
        FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY {_Q639_COEF} DESC, pk)
                       AS BIGINT) AS rank_pos,
                   pk, d, t, {_Q639_COEF} AS coef
            FROM pernode
        ) ranked, gl
        WHERE rank_pos <= {_Q639_TOP}
    """


@query("q639_clustering_coefficient", oracle=_q639_oracle())
def q639_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENTS — q185's triangle census
    localized to nodes: closed neighbor pairs per node from the
    wedge join + edge semi-join, c_v = 2t/(d(d−1)), top-{_Q639_TOP}
    with the exact global transitivity 3T/W carried as card columns
    (Σt = 3T is the q185 cross-check pinned in tests).

    Scale shape: wedge join partitioned by the apex node, one
    semi-join against the edge relation, a node-grain rollup,
    sort-limit."""
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
    deg = edges.groupBy(F.col("src").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    e1 = edges.select("src", F.col("dst").alias("v"))
    e2 = edges.select("src", F.col("dst").alias("w"))
    tri = (
        e1.join(e2, "src")
        .filter(F.col("v") < F.col("w"))
        .join(
            edges.select(
                F.col("src").alias("v"), F.col("dst").alias("w")
            ),
            ["v", "w"],
            "left_semi",
        )
        .groupBy(F.col("src").alias("pk"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    pernode = (
        deg.join(tri, "pk", "left")
        .select(
            "pk", "d", F.coalesce(F.col("t"), F.lit(0)).alias("t")
        )
        .filter(F.col("d") >= 2)
        .localCheckpoint()
    )
    glob = pernode.agg(
        F.sum("t").cast("long").alias("tsum"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias(
            "wsum"
        ),
    )
    top = (
        pernode.withColumn("coef", F.expr(_Q639_COEF))
        .orderBy(F.desc("coef"), F.asc("pk"))
        .limit(_Q639_TOP)
    )
    win = Window.orderBy(F.desc("coef"), F.asc("pk"))
    return (
        top.withColumn("rank_pos", F.row_number().over(win).cast("long"))
        .crossJoin(F.broadcast(glob))
        .select(
            "rank_pos",
            "pk",
            F.col("d").alias("degree"),
            F.col("t").alias("closed_pairs"),
            "coef",
            F.expr(_Q639_GLOBAL).alias("global_transitivity"),
        )
    )


# ---------------------------------------------------------------------------
# q640 — degree assortativity of the planted graph
# ---------------------------------------------------------------------------
#
# Newman's degree-correlation r (public, 2002): the Pearson
# correlation of endpoint degrees over the directed edge list — do
# hubs attach to hubs?  Rides q613's portable Pearson template over
# exact DECIMAL(38,0) moments.

_Q640_R = None  # assigned below from the q613 template


def _q640_oracle() -> str:
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD

    r = _q613_r("sxy", "sx", "sy", "sxx", "syy")
    return f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % {_Q514_MOD} = 0
        ),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        ),
        deg AS MATERIALIZED (
            SELECT src AS pk, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1
        ),
        el AS MATERIALIZED (
            SELECT da.d AS x, db.d AS y
            FROM edges e
            JOIN deg da ON e.src = da.pk
            JOIN deg db ON e.dst = db.pk
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
            FROM el
        )
        SELECT n AS n_edges,
               round(CAST(sx AS DOUBLE) / n, 6) AS mean_src_degree,
               round({r}, 6) AS assortativity
        FROM m
    """


@query("q640_degree_assortativity", oracle=_q640_oracle())
def q640_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman's r) of the planted co-order
    graph — Pearson correlation of endpoint degrees over the
    directed edge list, exact DECIMAL(38,0) moments through q613's
    portable template.  |r| ≤ 1 and the symmetric-list property
    (mean src degree = mean dst degree) pinned in tests.

    Scale shape: one degree rollup, two keyed joins to decorate the
    edge list, one 1-row moment combine."""
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
    deg = edges.groupBy(F.col("src").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint()
    el = (
        edges.join(
            deg.select(F.col("pk").alias("src"), F.col("d").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("pk").alias("dst"), F.col("d").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = el.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    r = _q613_r("sxy", "sx", "sy", "sxx", "syy")
    return m.select(
        F.col("n").alias("n_edges"),
        F.round(F.expr("CAST(sx AS DOUBLE) / n"), 6).alias(
            "mean_src_degree"
        ),
        F.round(F.expr(r), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q641 — Bartlett's test of variance homogeneity across segments
# ---------------------------------------------------------------------------
#
# The homoscedasticity gate in front of q612's ANOVA (public:
# Bartlett 1937): pooled variance from the SAME exact-integer SSW
# pieces q612 uses (integer-space cancellation — no huge-magnitude
# decimal casts), per-group ln-variance terms at safe magnitudes
# (9dp, decimal-summed), T portable.

_Q641_SSW = "(CAST(q - sbi AS DOUBLE) - CAST(sbf AS DOUBLE))"
_Q641_LNP = f"ln({_Q641_SSW} / (CAST(n AS DOUBLE) - k))"
_Q641_T = (
    f"round(((CAST(n AS DOUBLE) - k) * {_Q641_LNP}"
    " - CAST(sumt AS DOUBLE))"
    " / (1 + (CAST(sum1 AS DOUBLE)"
    " - 1 / (CAST(n AS DOUBLE) - k))"
    " / (3 * (CAST(k AS DOUBLE) - 1))), 6)"
)
_Q641_PV = f"round({_Q641_SSW} / (CAST(n AS DOUBLE) - k), 6)"
_Q641_LNV = (
    "round((CAST(ng AS DOUBLE) - 1)"
    " * ln((CAST(qg AS DOUBLE)"
    " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng)"
    " / (CAST(ng AS DOUBLE) - 1)), 9)"
)
_Q641_INV = "round(1 / (CAST(ng AS DOUBLE) - 1), 9)"


def _q641_oracle() -> str:
    return f"""
        WITH v AS MATERIALIZED (
            SELECT c_mktsegment AS grp,
                   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
            FROM customer
        ),
        g AS MATERIALIZED (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(cents) AS HUGEINT) AS sg,
                   CAST(SUM(CAST(cents AS HUGEINT) * cents)
                        AS DECIMAL(38,0)) AS qg
            FROM v GROUP BY 1
        ),
        g2 AS MATERIALIZED (
            SELECT grp, ng, sg, qg,
                   CAST(CAST(sg AS HUGEINT) * sg // ng
                        AS DECIMAL(38,0)) AS dg,
                   CAST(CAST(sg AS HUGEINT) * sg % ng AS BIGINT) AS rg
            FROM g
        ),
        tots AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(CAST(dg AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS sbi,
                   CAST(SUM(CAST({_Q612_FRAC} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sbf,
                   CAST(SUM(CAST({_Q641_LNV} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sumt,
                   CAST(SUM(CAST({_Q641_INV} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sum1
            FROM g2
        ),
        qq AS (
            SELECT CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                        AS DECIMAL(38,0)) AS q
            FROM v
        )
        SELECT k AS k_groups, n AS n_customers,
               {_Q641_PV} AS pooled_var_cents2,
               {_Q641_T} AS bartlett_t
        FROM tots, qq
    """


@query("q641_bartlett_test", oracle=_q641_oracle())
def q641_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARTLETT'S VARIANCE-HOMOGENEITY TEST across market segments —
    the gate a pipeline checks before trusting q612's pooled-variance
    F: pooled variance from q612's exact-integer SSW pieces
    (DECIMAL/HUGEINT floor division, integer-space cancellation),
    per-group (n−1)·ln(s²) terms at decimal-safe magnitudes, T one
    portable expression.  T ≥ 0 pinned in tests.

    Scale shape: identical to q612 — one scan, 5-row group relation,
    1-row card."""
    c = read_table(spark, sf_dir, "customer")
    v = c.select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    ).localCheckpoint()
    g2 = (
        v.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sg"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias("qg"),
        )
        .select(
            "grp",
            "ng",
            "sg",
            "qg",
            F.expr(_q612_floordiv("sg * sg", "ng", "spark")).alias("dg"),
            F.expr("(sg * sg) % ng").cast("long").alias("rg"),
        )
    )
    tots = g2.select(
        "ng",
        "sg",
        "qg",
        "dg",
        F.expr(_Q612_FRAC).cast("decimal(28,9)").alias("frac"),
        F.expr(_Q641_LNV).cast("decimal(28,9)").alias("lnv"),
        F.expr(_Q641_INV).cast("decimal(28,9)").alias("inv"),
    ).agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("dg").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sbi"),
        F.sum("frac").cast("decimal(28,9)").alias("sbf"),
        F.sum("lnv").cast("decimal(28,9)").alias("sumt"),
        F.sum("inv").cast("decimal(28,9)").alias("sum1"),
    )
    qq = v.agg(
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("q")
    )
    return tots.crossJoin(qq).select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_customers"),
        F.expr(_Q641_PV).alias("pooled_var_cents2"),
        F.expr(_Q641_T).alias("bartlett_t"),
    )


# ---------------------------------------------------------------------------
# q642 — newsvendor order quantity from the empirical demand CDF
# ---------------------------------------------------------------------------
#
# The classic stochastic-inventory decision (public: the newsvendor
# model): per planted part, Q* = the smallest daily demand value
# whose empirical CDF reaches the critical fractile cu/(cu+co) =
# 4/5, selected by EXACT integer comparison 5·cum ≥ 4·n (no float
# quantile), then the expected under/over costs from exact excess
# sums — the decision layer on top of q582's safety stock.

_Q642_CU, _Q642_CO = 4, 1  # underage / overage unit costs (literals)
_Q642_UC = "round(4 * CAST(su AS DOUBLE) / n, 6)"
_Q642_OC = "round(1 * CAST(so AS DOUBLE) / n, 6)"
_Q642_SL = "round(CAST(cq AS DOUBLE) / n, 6)"


def _q642_oracle() -> str:
    from databricks_etl_spark.plans.queries_round14 import _Q582_MOD

    return f"""
        WITH daily AS MATERIALIZED (
            SELECT l_partkey AS partkey,
                   CAST(l_shipdate AS DATE) AS d,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS qty
            FROM lineitem
            WHERE l_partkey % {_Q582_MOD} = 0
            GROUP BY 1, 2
        ),
        grain AS MATERIALIZED (
            SELECT partkey, qty, CAST(COUNT(*) AS BIGINT) AS ct
            FROM daily GROUP BY 1, 2
        ),
        cum AS MATERIALIZED (
            SELECT partkey, qty,
                   CAST(SUM(ct) OVER (PARTITION BY partkey
                       ORDER BY qty ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS cum
            FROM grain
        ),
        tot AS MATERIALIZED (
            SELECT partkey, CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY 1
        ),
        qstar AS MATERIALIZED (
            SELECT c.partkey, MIN(c.qty) AS qs
            FROM cum c JOIN tot t ON c.partkey = t.partkey
            WHERE 5 * c.cum >= 4 * t.n
            GROUP BY 1
        ),
        card AS (
            SELECT d.partkey, t.n, q.qs,
                   CAST(SUM(CASE WHEN d.qty > q.qs THEN d.qty - q.qs
                            ELSE 0 END) AS BIGINT) AS su,
                   CAST(SUM(CASE WHEN d.qty < q.qs THEN q.qs - d.qty
                            ELSE 0 END) AS BIGINT) AS so,
                   CAST(SUM(CASE WHEN d.qty <= q.qs THEN 1 ELSE 0 END)
                        AS BIGINT) AS cq
            FROM daily d
            JOIN qstar q ON d.partkey = q.partkey
            JOIN tot t ON d.partkey = t.partkey
            GROUP BY 1, 2, 3
        )
        SELECT partkey, n AS n_days, qs AS q_star_qty,
               {_Q642_SL} AS achieved_service,
               {_Q642_UC} AS exp_under_cost,
               {_Q642_OC} AS exp_over_cost
        FROM card
    """


@query("q642_newsvendor", oracle=_q642_oracle())
def q642_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR ORDER QUANTITY per planted part — the critical
    fractile cu/(cu+co) = 0.8 read off the empirical daily-demand
    CDF by EXACT integer comparison (5·cum ≥ 4·n, no float
    quantile), with expected under/over costs from exact excess
    sums: the decision layer on top of q582's safety-stock moments.
    achieved_service ≥ 0.8 and the cost asymmetry are pinned in
    tests.

    Scale shape: part×day rollup, per-part value-grain prefix fold
    (PARTITIONED window — parallel per part), one min-select, one
    cost join back at day grain."""
    from pyspark.sql import Window as W

    from databricks_etl_spark.plans.queries_round14 import _Q582_MOD

    li = read_table(spark, sf_dir, "lineitem")
    daily = (
        li.filter(F.col("l_partkey") % _Q582_MOD == 0)
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("qty")
        )
        .localCheckpoint()
    )
    grain = daily.groupBy("partkey", "qty").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    w = (
        W.partitionBy("partkey")
        .orderBy("qty")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = grain.withColumn(
        "cum", F.sum("ct").over(w).cast("long")
    )
    tot = daily.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    qstar = (
        cum.join(tot, "partkey")
        .filter(5 * F.col("cum") >= 4 * F.col("n"))
        .groupBy("partkey")
        .agg(F.min("qty").alias("qs"))
    )
    card = (
        daily.join(qstar, "partkey")
        .join(tot, "partkey")
        .groupBy("partkey", "n", "qs")
        .agg(
            F.sum(
                F.when(
                    F.col("qty") > F.col("qs"), F.col("qty") - F.col("qs")
                ).otherwise(0)
            )
            .cast("long")
            .alias("su"),
            F.sum(
                F.when(
                    F.col("qty") < F.col("qs"), F.col("qs") - F.col("qty")
                ).otherwise(0)
            )
            .cast("long")
            .alias("so"),
            F.sum(F.when(F.col("qty") <= F.col("qs"), 1).otherwise(0))
            .cast("long")
            .alias("cq"),
        )
    )
    return card.select(
        "partkey",
        F.col("n").alias("n_days"),
        F.col("qs").alias("q_star_qty"),
        F.expr(_Q642_SL).alias("achieved_service"),
        F.expr(_Q642_UC).alias("exp_under_cost"),
        F.expr(_Q642_OC).alias("exp_over_cost"),
    )


# ---------------------------------------------------------------------------
# q643 — mutual information matrix over categorical pairs
# ---------------------------------------------------------------------------
#
# q625's contingency pipeline under the information lens: MI in nats
# and the sqrt-normalized NMI per pair — the dependence measure that
# (unlike Cramér's V) composes with the entropy budget a feature
# selector tracks.  Per-cell and per-margin ln terms from exact
# ratios, 9dp, decimal-summed.

_Q643_MIT = (
    "round((CAST(o AS DOUBLE) / n)"
    " * ln(CAST(o AS DOUBLE) * n"
    " / (CAST(rt AS DOUBLE) * ct)), 9)"
)
_Q643_HT = (
    "round(-(CAST(mt AS DOUBLE) / n)"
    " * ln(CAST(mt AS DOUBLE) / n), 9)"
)
_Q643_NMI = (
    "round(CAST(mi AS DOUBLE)"
    " / sqrt(CAST(ha AS DOUBLE) * CAST(hb AS DOUBLE)), 6)"
)


def _q643_oracle() -> str:
    pairs = [
        ("seg_x_priority", "c_mktsegment", "o_orderpriority"),
        ("seg_x_status", "c_mktsegment", "o_orderstatus"),
        ("priority_x_status", "o_orderpriority", "o_orderstatus"),
    ]
    sel = " UNION ALL ".join(
        f"""SELECT '{nm}' AS pair, {ca} AS av, {cb} AS bv
            FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey"""
        for nm, ca, cb in pairs
    )
    return f"""
        WITH v AS MATERIALIZED ({sel}),
        cells AS MATERIALIZED (
            SELECT pair, av, bv, CAST(COUNT(*) AS BIGINT) AS o
            FROM v GROUP BY 1, 2, 3
        ),
        rows_ AS MATERIALIZED (
            SELECT pair, av, CAST(SUM(o) AS BIGINT) AS rt
            FROM cells GROUP BY 1, 2
        ),
        cols_ AS MATERIALIZED (
            SELECT pair, bv, CAST(SUM(o) AS BIGINT) AS ct
            FROM cells GROUP BY 1, 2
        ),
        tots AS MATERIALIZED (
            SELECT pair, CAST(SUM(o) AS BIGINT) AS n
            FROM cells GROUP BY 1
        ),
        mi AS (
            SELECT ce.pair,
                   CAST(SUM(CAST({_Q643_MIT} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS mi
            FROM cells ce
            JOIN rows_ r2 ON ce.pair = r2.pair AND ce.av = r2.av
            JOIN cols_ c2 ON ce.pair = c2.pair AND ce.bv = c2.bv
            JOIN tots t ON ce.pair = t.pair
            GROUP BY 1
        ),
        ha AS (
            SELECT r2.pair,
                   CAST(SUM(CAST({_Q643_HT.replace("mt", "rt")}
                        AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS ha
            FROM rows_ r2 JOIN tots t ON r2.pair = t.pair
            GROUP BY 1
        ),
        hb AS (
            SELECT c2.pair,
                   CAST(SUM(CAST({_Q643_HT.replace("mt", "ct")}
                        AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS hb
            FROM cols_ c2 JOIN tots t ON c2.pair = t.pair
            GROUP BY 1
        )
        SELECT t.pair AS pair, t.n AS n_rows,
               round(CAST(mi.mi AS DOUBLE), 6) AS mi_nats,
               round(CAST(ha.ha AS DOUBLE), 6) AS h_a,
               round(CAST(hb.hb AS DOUBLE), 6) AS h_b,
               {_Q643_NMI} AS nmi
        FROM tots t
        JOIN mi ON t.pair = mi.pair
        JOIN ha ON t.pair = ha.pair
        JOIN hb ON t.pair = hb.pair
    """


@query("q643_mutual_information", oracle=_q643_oracle())
def q643_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-INFORMATION MATRIX over the q625 categorical pairs —
    MI in nats and sqrt-normalized NMI from the same exact
    contingency pipeline (per-cell (o/n)·ln(on/(rt·ct)) terms,
    margin entropies, all 9dp decimal sums).  MI ≥ 0 and
    MI ≤ min(H_a, H_b) pinned in tests.

    Scale shape: identical to q625 — one long-format scan, grouped
    margins, cell-grain term join."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).localCheckpoint()
    pairs = [
        ("seg_x_priority", "c_mktsegment", "o_orderpriority"),
        ("seg_x_status", "c_mktsegment", "o_orderstatus"),
        ("priority_x_status", "o_orderpriority", "o_orderstatus"),
    ]
    v = None
    for nm, ca, cb in pairs:
        part = j.select(
            F.lit(nm).alias("pair"),
            F.col(ca).alias("av"),
            F.col(cb).alias("bv"),
        )
        v = part if v is None else v.unionByName(part)
    cells = v.groupBy("pair", "av", "bv").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint()
    rows_ = cells.groupBy("pair", "av").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_ = cells.groupBy("pair", "bv").agg(
        F.sum("o").cast("long").alias("ct")
    )
    tots = cells.groupBy("pair").agg(
        F.sum("o").cast("long").alias("n")
    ).localCheckpoint()
    mi = (
        cells.join(rows_, ["pair", "av"])
        .join(cols_, ["pair", "bv"])
        .join(F.broadcast(tots), "pair")
        .select(
            "pair", F.expr(_Q643_MIT).cast("decimal(28,9)").alias("t")
        )
        .groupBy("pair")
        .agg(F.sum("t").cast("decimal(28,9)").alias("mi"))
    )
    ha = (
        rows_.join(F.broadcast(tots), "pair")
        .select(
            "pair",
            F.expr(_Q643_HT.replace("mt", "rt"))
            .cast("decimal(28,9)")
            .alias("t"),
        )
        .groupBy("pair")
        .agg(F.sum("t").cast("decimal(28,9)").alias("ha"))
    )
    hb = (
        cols_.join(F.broadcast(tots), "pair")
        .select(
            "pair",
            F.expr(_Q643_HT.replace("mt", "ct"))
            .cast("decimal(28,9)")
            .alias("t"),
        )
        .groupBy("pair")
        .agg(F.sum("t").cast("decimal(28,9)").alias("hb"))
    )
    return (
        tots.join(mi, "pair")
        .join(ha, "pair")
        .join(hb, "pair")
        .select(
            "pair",
            F.col("n").alias("n_rows"),
            F.round(F.col("mi").cast("double"), 6).alias("mi_nats"),
            F.round(F.col("ha").cast("double"), 6).alias("h_a"),
            F.round(F.col("hb").cast("double"), 6).alias("h_b"),
            F.expr(_Q643_NMI).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# q644 — Heaps' law fit over the corpus vocabulary growth curve
# ---------------------------------------------------------------------------
#
# The corpus-scaling diagnostic (public: Heaps 1978): V(N) ≈ K·N^β
# fit by ln–ln OLS over 8 evenly-spaced checkpoints of the
# vocabulary growth curve.  First occurrences via a token-grain MIN,
# cumulative token/vocab counts via exact_cumsum over the doc grain
# — no global window; the OLS runs on ≤8 tiny exact points.

_Q644_POINTS = 8
_Q644_SLOPE = (
    "round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
)
_Q644_K = (
    "round(exp((CAST(sy AS DOUBLE)"
    " - ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    " * CAST(sx AS DOUBLE)) / np), 6)"
)


def _q644_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _TOKS

    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        dt AS MATERIALIZED (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tcnt
            FROM toks GROUP BY 1
        ),
        firsts AS MATERIALIZED (
            SELECT MIN(doc_id) AS doc_id, token FROM toks GROUP BY token
        ),
        df AS MATERIALIZED (
            SELECT d.doc_id, d.tcnt,
                   COALESCE(f.fcnt, 0) AS fcnt
            FROM dt d LEFT JOIN (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS fcnt
                FROM firsts GROUP BY 1
            ) f ON d.doc_id = f.doc_id
        ),
        cums AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
                       AS r,
                   CAST(SUM(tcnt) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tt,
                   CAST(SUM(fcnt) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vv
            FROM df
        ),
        nd AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                   CAST(COUNT(*) // {_Q644_POINTS} AS BIGINT) AS step
            FROM df
        ),
        pts AS MATERIALIZED (
            SELECT c.tt, c.vv FROM cums c, nd
            WHERE nd.step > 0 AND c.r % nd.step = 0
              AND c.r // nd.step <= {_Q644_POINTS}
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS np,
                   CAST(SUM(CAST(round(ln(tt), 9) AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sx,
                   CAST(SUM(CAST(round(ln(vv), 9) AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS sy,
                   CAST(SUM(CAST(round(ln(tt) * ln(vv), 9)
                        AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS sxy,
                   CAST(SUM(CAST(round(ln(tt) * ln(tt), 9)
                        AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS sxx
            FROM pts
        ),
        tot AS (
            SELECT (SELECT nd FROM nd) AS n_docs,
                   (SELECT CAST(SUM(tcnt) AS BIGINT) FROM df)
                       AS n_tokens,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts)
                       AS vocab_size
        )
        SELECT tot.n_docs, tot.n_tokens, tot.vocab_size,
               mom.np AS n_points,
               {_Q644_SLOPE} AS heaps_beta,
               {_Q644_K} AS heaps_k
        FROM mom, tot
    """


@query("q644_heaps_law_fit", oracle=_q644_oracle())
def q644_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS' LAW FIT V(N) ≈ K·N^β over the corpus vocabulary growth
    curve — the scaling diagnostic next to q324's Zipf fit: first
    occurrences from a token-grain MIN, cumulative token/vocab
    counts via exact_cumsum over the doc grain (no global window),
    ln–ln OLS on {_Q644_POINTS} evenly-spaced checkpoints (9dp
    decimal moments at safe magnitudes).  On THIS synthetic corpus
    the vocabulary is CLOSED (31 tokens), so the curve saturates in
    the first checkpoint and the honest fit is β ≈ 0 with K ≈ |V| —
    the q607 honest-finding discipline; 0 < β < 1 is what the same
    lane reports on a natural corpus.  β ∈ [0, 1) and K ≈ |V| under
    saturation are pinned in tests.

    Scale shape: tokenize pass → token-grain MIN (the inverted-index
    shuffle) → doc-grain relation → two range-partitioned folds →
    an 8-point OLS."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("token")
    ).localCheckpoint()
    dt = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tcnt")
    )
    firsts = toks.groupBy("token").agg(
        F.min("doc_id").alias("doc_id")
    ).localCheckpoint()
    fcnt = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("fcnt")
    )
    df = (
        dt.join(fcnt, "doc_id", "left")
        .select(
            "doc_id",
            "tcnt",
            F.coalesce(F.col("fcnt"), F.lit(0)).cast("long").alias(
                "fcnt"
            ),
        )
        .withColumn("one", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    cums = exact_cumsum(df, ["doc_id"], "tcnt", out_col="tt")
    cums = exact_cumsum(cums, ["doc_id"], "fcnt", out_col="vv")
    cums = exact_cumsum(cums, ["doc_id"], "one", out_col="r").select(
        F.col("r").cast("long").alias("r"),
        F.col("tt").cast("long").alias("tt"),
        F.col("vv").cast("long").alias("vv"),
    )
    nd = df.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.expr(f"COUNT(*) DIV {_Q644_POINTS}").cast("long").alias(
            "step"
        ),
    )
    pts = (
        cums.crossJoin(F.broadcast(nd))
        .filter(
            (F.col("step") > 0)
            & (F.col("r") % F.col("step") == 0)
            & (F.expr("r DIV step") <= _Q644_POINTS)
        )
        .select("tt", "vv")
    )
    mom = pts.select(
        F.expr("round(ln(tt), 9)").cast("decimal(28,9)").alias("lx"),
        F.expr("round(ln(vv), 9)").cast("decimal(28,9)").alias("ly"),
        F.expr("round(ln(tt) * ln(vv), 9)")
        .cast("decimal(28,9)")
        .alias("lxy"),
        F.expr("round(ln(tt) * ln(tt), 9)")
        .cast("decimal(28,9)")
        .alias("lxx"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("lx").cast("decimal(28,9)").alias("sx"),
        F.sum("ly").cast("decimal(28,9)").alias("sy"),
        F.sum("lxy").cast("decimal(28,9)").alias("sxy"),
        F.sum("lxx").cast("decimal(28,9)").alias("sxx"),
    )
    tot = (
        df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tcnt").cast("long").alias("n_tokens"),
        )
        .crossJoin(
            F.broadcast(
                firsts.agg(
                    F.count(F.lit(1)).cast("long").alias("vocab_size")
                )
            )
        )
    )
    return mom.crossJoin(F.broadcast(tot)).select(
        "n_docs",
        "n_tokens",
        "vocab_size",
        F.col("np").alias("n_points"),
        F.expr(_Q644_SLOPE).alias("heaps_beta"),
        F.expr(_Q644_K).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# q645 — partial autocorrelation (Durbin–Levinson, lags 1–3)
# ---------------------------------------------------------------------------
#
# The AR-order diagnostic over q614's ACF: PACF at lags 1–3 via the
# closed Durbin–Levinson recursion.  Stage 1 reproduces the exact
# q614 ACF machinery pivoted to one row; stage 2 computes the
# recursion from the 6dp-ROUNDED acf values (identical exact inputs
# on both engines → identical IEEE), so no new float discipline is
# needed.

_Q645_ACF_K = (
    "round((CAST(sxy{k} AS DOUBLE)"
    " - (CAST(s AS DOUBLE) / n) * (CAST(sh{k} AS DOUBLE)"
    " + CAST(st{k} AS DOUBLE))"
    " + (CAST(n AS DOUBLE) - {k})"
    " * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
    " / (CAST(q AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)"
)
_Q645_P22 = "((a2 - a1 * a1) / (1 - a1 * a1))"
_Q645_P21 = f"(a1 * (1 - {_Q645_P22}))"
_Q645_P33 = (
    f"round((a3 - {_Q645_P21} * a2 - {_Q645_P22} * a1)"
    f" / (1 - {_Q645_P21} * a1 - {_Q645_P22} * a2), 6)"
)


def _q645_oracle() -> str:
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
        for k in (1, 2, 3)
    )
    acfs = ",\n".join(
        f"               {_Q645_ACF_K.format(k=k)} AS a{k}"
        for k in (1, 2, 3)
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
        lags AS (SELECT unnest([1, 2, 3]) AS lag),
        piv AS MATERIALIZED (
            SELECT
{sxy}
            FROM lags l
            JOIN idx a ON TRUE
            JOIN idx b ON b.i = a.i + l.lag
        ),
        acf AS MATERIALIZED (
            SELECT tot.n,
{acfs}
            FROM piv, tot
        )
        SELECT n AS n_days, a1 AS acf1, a2 AS acf2, a3 AS acf3,
               a1 AS pacf1,
               round({_Q645_P22}, 6) AS pacf2,
               {_Q645_P33} AS pacf3
        FROM acf
    """


@query("q645_pacf_durbin_levinson", oracle=_q645_oracle())
def q645_pacf_durbin_levinson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTIAL AUTOCORRELATION at lags 1–3 of daily revenue via the
    closed Durbin–Levinson recursion — the AR-order diagnostic next
    to q614's ACF: the exact q614 moment machinery pivoted to one
    row, then the recursion evaluated from the 6dp-rounded ACF
    values (identical exact inputs both engines, so the nested
    float expression cannot drift).  pacf1 ≡ acf1 pinned in tests.

    Scale shape: q614's lag-grid self-join with conditional
    aggregation (one pass, no per-lag scans), a 1-row card."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    o = read_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    idx = exact_cumsum(daily, ["d"], "one", out_col="i").select(
        F.col("i").cast("long").alias("i"), "x"
    ).localCheckpoint()
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
        "lag", F.explode(F.array(*[F.lit(k) for k in (1, 2, 3)]))
    ).withColumn("i2", F.col("i") + F.col("lag"))
    b = idx.select(F.col("i").alias("i2"), F.col("x").alias("x2"))
    j = a.join(b, "i2")
    aggs = []
    for k in (1, 2, 3):
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
    piv = j.agg(*aggs)
    acf = piv.crossJoin(F.broadcast(tot)).select(
        "n",
        *[
            F.expr(_Q645_ACF_K.format(k=k)).alias(f"a{k}")
            for k in (1, 2, 3)
        ],
    )
    return acf.select(
        F.col("n").alias("n_days"),
        F.col("a1").alias("acf1"),
        F.col("a2").alias("acf2"),
        F.col("a3").alias("acf3"),
        F.col("a1").alias("pacf1"),
        F.round(F.expr(_Q645_P22), 6).alias("pacf2"),
        F.expr(_Q645_P33).alias("pacf3"),
    )


# ---------------------------------------------------------------------------
# q646 — CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------
#
# The modern experimentation workhorse (public: Deng et al. 2013):
# adjust the experiment metric y by the pre-period covariate x via
# θ = cov(x,y)/var(x), shrinking variance without biasing the
# between-arm difference.  All ten sufficient statistics are exact
# DECIMAL(38,0) moments; θ, the two readouts and the variance
# reduction are nested portable expressions.

_Q646_HEX = "01234567"  # md5 first hex here → arm A (~1/2)
_Q646_Y0, _Q646_Y1 = 1999, 2000

_Q646_THETA = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)
def _q646_oracle() -> str:
    return f"""
        WITH spend AS MATERIALIZED (
            SELECT o_custkey,
                   strpos('{_Q646_HEX}', substr(md5('cu:' ||
                       CAST(o_custkey AS VARCHAR)), 1, 1)) > 0
                       AS arm_a,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      = {_Q646_Y0}
                            THEN CAST(round(o_totalprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      = {_Q646_Y1}
                            THEN CAST(round(o_totalprice * 100, 0)
                                      AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS y
            FROM orders
            WHERE year(CAST(o_orderdate AS DATE))
                  IN ({_Q646_Y0}, {_Q646_Y1})
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                 = {_Q646_Y0} THEN 1 ELSE 0 END) > 0
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END)
                        AS BIGINT) AS na,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CASE WHEN arm_a
                        THEN CAST(y AS DECIMAL(38,0)) END)
                        AS DECIMAL(38,0)) AS sya,
                   CAST(SUM(CASE WHEN arm_a
                        THEN CAST(x AS DECIMAL(38,0)) END)
                        AS DECIMAL(38,0)) AS sxa
            FROM spend
        )
        SELECT n AS n_customers, na AS n_arm_a,
               round({_Q646_THETA}, 6) AS theta,
               round(CAST(sya AS DOUBLE) / na
                     - (CAST(sy AS DOUBLE) - CAST(sya AS DOUBLE))
                       / (n - na), 6) AS diff_unadjusted,
               round((CAST(sya AS DOUBLE) / na
                      - (CAST(sy AS DOUBLE) - CAST(sya AS DOUBLE))
                        / (n - na))
                     - {_Q646_THETA}
                       * (CAST(sxa AS DOUBLE) / na
                          - (CAST(sx AS DOUBLE)
                             - CAST(sxa AS DOUBLE)) / (n - na)), 6)
                   AS diff_adjusted,
               round(({_Q646_THETA} * {_Q646_THETA})
                     * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                     6) AS var_reduction
        FROM m
    """


@query("q646_cuped_adjustment", oracle=_q646_oracle())
def q646_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED VARIANCE REDUCTION for the md5-armed spend experiment —
    the pre-period covariate adjustment every experimentation
    platform runs (θ = cov(x,y)/var(x), y' = y − θ(x − x̄)): arm
    readout unadjusted vs adjusted, and the variance fraction
    removed (= ρ², pinned ∈ [0,1] in tests).  Ten exact
    DECIMAL(38,0) sufficient statistics in one pass; every float is
    a nested portable expression.  The A/A-style null (arms are an
    md5 split of the same population) keeps the adjusted diff near
    zero — the honest readout.

    Scale shape: one customer-grain rollup, one 1-row moment
    combine."""
    o = read_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    spend = (
        # sargable range → PushedFilters (see q610 note)
        o.filter(
            (F.col("o_orderdate") >= f"{_Q646_Y0}-01-01")
            & (F.col("o_orderdate") < f"{_Q646_Y1 + 1}-01-01")
        )
        .filter(yr.isin(_Q646_Y0, _Q646_Y1))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == _Q646_Y0, cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(yr == _Q646_Y1, cents).otherwise(0))
            .cast("long")
            .alias("y"),
            F.sum(F.when(yr == _Q646_Y0, 1).otherwise(0)).alias("k0"),
        )
        .filter(F.col("k0") > 0)
        .withColumn(
            "arm_a",
            F.instr(
                F.lit(_Q646_HEX),
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cu:"), F.col("o_custkey").cast("string")
                        )
                    ),
                    1,
                    1,
                ),
            )
            > 0,
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.when(F.col("arm_a"), dec("y")))
        .cast("decimal(38,0)")
        .alias("sya"),
        F.sum(F.when(F.col("arm_a"), dec("x")))
        .cast("decimal(38,0)")
        .alias("sxa"),
    )
    diff_u = (
        "CAST(sya AS DOUBLE) / na"
        " - (CAST(sy AS DOUBLE) - CAST(sya AS DOUBLE)) / (n - na)"
    )
    diff_x = (
        "CAST(sxa AS DOUBLE) / na"
        " - (CAST(sx AS DOUBLE) - CAST(sxa AS DOUBLE)) / (n - na)"
    )
    return m.select(
        F.col("n").alias("n_customers"),
        F.col("na").alias("n_arm_a"),
        F.round(F.expr(_Q646_THETA), 6).alias("theta"),
        F.round(F.expr(diff_u), 6).alias("diff_unadjusted"),
        F.round(
            F.expr(f"({diff_u}) - {_Q646_THETA} * ({diff_x})"), 6
        ).alias("diff_adjusted"),
        F.round(
            F.expr(
                f"({_Q646_THETA} * {_Q646_THETA})"
                " * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                " / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
                " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
            ),
            6,
        ).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# q647 — Nelson–Aalen cumulative hazard (complement of q540's KM)
# ---------------------------------------------------------------------------
#
# The additive-hazard estimator (public: Nelson 1972, Aalen 1978)
# over q540's signup→first-purchase durations: H(t) = Σ_{ti ≤ t}
# d_i/n_i.  Hazard increments are exact rationals 9dp-rounded and
# cumulated with exact_cumsum, so the curve is an exact decimal on
# both engines.

_Q647_CH = "round(CAST(ch AS DOUBLE), 6)"


def _q647_dur_sql() -> str:
    """The q540 duration construction (signup → first purchase,
    censored at last-seen), shared by q647/q648."""
    return """t0 AS MATERIALIZED (
            SELECT user_id,
                   MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS s0
            FROM events WHERE event_type = 'signup' GROUP BY 1
        ),
        fp AS MATERIALIZED (
            SELECT e.user_id,
                   MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS tp
            FROM events e JOIN t0 ON e.user_id = t0.user_id
            WHERE e.event_type = 'purchase'
              AND CAST(floor(epoch(e.ts)) AS BIGINT) >= t0.s0
            GROUP BY 1
        ),
        last_seen AS MATERIALIZED (
            SELECT e.user_id,
                   MAX(CAST(floor(epoch(e.ts)) AS BIGINT)) AS tl
            FROM events e GROUP BY 1
        ),
        dur AS MATERIALIZED (
            SELECT t0.user_id,
                   CASE WHEN fp.tp IS NOT NULL
                        THEN (fp.tp - t0.s0) // 86400
                        ELSE (last_seen.tl - t0.s0) // 86400 END AS t,
                   fp.tp IS NOT NULL AS died
            FROM t0
            JOIN last_seen ON t0.user_id = last_seen.user_id
            LEFT JOIN fp ON t0.user_id = fp.user_id
        )"""


def _q647_oracle() -> str:
    return f"""
        WITH {_q647_dur_sql()},
        grid AS MATERIALIZED (SELECT DISTINCT t FROM dur WHERE died),
        km AS MATERIALIZED (
            SELECT g.t,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM dur
                    WHERE dur.t >= g.t) AS n_at_risk,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM dur
                    WHERE dur.died AND dur.t = g.t) AS d_events
            FROM grid g
        )
        SELECT CAST(t AS BIGINT) AS t_days, n_at_risk, d_events,
               round(CAST(SUM(CAST(round(CAST(d_events AS DOUBLE)
                   / n_at_risk, 9) AS DECIMAL(28,9))) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE),
                   6) AS cumulative_hazard
        FROM km
    """


@query("q647_nelson_aalen", oracle=_q647_oracle())
def q647_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON–AALEN CUMULATIVE HAZARD of signup→first-purchase — the
    additive complement of q540's multiplicative Kaplan–Meier on the
    identical duration construction: H(t) = Σ d/n with each hazard
    increment an exact rational (9dp decimal), cumulated by
    exact_cumsum.  H is monotone non-decreasing and bounded above by
    −ln(S_KM) wherever q540's survival is positive — both pinned in
    tests as the cross-lane consistency check.

    Scale shape: the q540 duration rollup, an event-time grid
    (bounded by distinct conversion days), one range-partitioned
    cumulative fold."""
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum

    e = read_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    t0 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(sec).alias("s0"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("tp"))
        .join(t0, "user_id")
        .filter(F.col("tp") >= F.col("s0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    last = e.groupBy("user_id").agg(F.max(sec).alias("tl"))
    dur = (
        t0.join(last, "user_id")
        .join(fp, "user_id", "left")
        .select(
            F.when(
                F.col("tp").isNotNull(),
                F.expr("(tp - s0) DIV 86400"),
            )
            .otherwise(F.expr("(tl - s0) DIV 86400"))
            .alias("t"),
            F.col("tp").isNotNull().alias("died"),
        )
        .localCheckpoint()
    )
    grid = dur.filter(F.col("died")).select("t").distinct()
    risk = (
        grid.join(dur.select(F.col("t").alias("td"), "died"),
                  F.col("td") >= F.col("t"))
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_risk"),
            F.sum(
                F.when(F.col("died") & (F.col("td") == F.col("t")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("d_events"),
        )
        .withColumn(
            "h9",
            F.expr(
                "CAST(round(CAST(d_events AS DOUBLE) / n_at_risk, 9)"
                " AS DECIMAL(28,9))"
            ),
        )
    )
    cum = exact_cumsum(
        risk.withColumn(
            "h9u", (F.col("h9") * 1000000000).cast("long")
        ),
        ["t"],
        "h9u",
        out_col="chu",
    )
    return cum.select(
        F.col("t").cast("long").alias("t_days"),
        "n_at_risk",
        "d_events",
        F.round(
            F.col("chu").cast("double") / F.lit(1000000000.0), 6
        ).alias("cumulative_hazard"),
    )


# ---------------------------------------------------------------------------
# q648 — log-rank test between md5 arms on conversion survival
# ---------------------------------------------------------------------------
#
# The standard two-group survival comparison (public: Mantel 1966):
# over the joint event-time grid, observed-minus-expected conversions
# in arm A with the hypergeometric variance, z from exact integer
# counts per time (O−E and V terms are exact rationals, 9dp,
# decimal-summed).  The arms are an md5 split — an A/A null, so the
# honest |z| is small.

_Q648_HEX = "01234567"
_Q648_OE = (
    "round(CAST(d1 AS DOUBLE)"
    " - CAST(d AS DOUBLE) * n1 / nr, 9)"
)
_Q648_VT = (
    "round(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / nr)"
    " * (CAST(nr AS DOUBLE) - n1) / nr"
    " * (CAST(nr AS DOUBLE) - d) / (CAST(nr AS DOUBLE) - 1), 9)"
)
_Q648_Z = "round(CAST(oe AS DOUBLE) / sqrt(CAST(vs AS DOUBLE)), 6)"


def _q648_oracle() -> str:
    return f"""
        WITH {_q647_dur_sql()},
        arm AS MATERIALIZED (
            SELECT user_id, t, died,
                   strpos('{_Q648_HEX}', substr(md5('lr:' ||
                       CAST(user_id AS VARCHAR)), 1, 1)) > 0 AS a
            FROM dur
        ),
        grid AS MATERIALIZED (SELECT DISTINCT t FROM arm WHERE died),
        cells AS MATERIALIZED (
            SELECT g.t,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM arm
                    WHERE arm.t >= g.t) AS nr,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM arm
                    WHERE arm.a AND arm.t >= g.t) AS n1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM arm
                    WHERE arm.died AND arm.t = g.t) AS d,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM arm
                    WHERE arm.a AND arm.died AND arm.t = g.t) AS d1
            FROM grid g
        ),
        card AS (
            SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                   CAST(SUM(CAST({_Q648_OE} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS oe,
                   CAST(SUM(CASE WHEN nr > 1 THEN
                        CAST({_Q648_VT} AS DECIMAL(28,9))
                        ELSE CAST(0 AS DECIMAL(28,9)) END)
                        AS DECIMAL(28,9)) AS vs
            FROM cells
        )
        SELECT o1 AS observed_a,
               round(CAST(o1 AS DOUBLE) - CAST(oe AS DOUBLE), 6)
                   AS expected_a,
               round(CAST(oe AS DOUBLE), 6) AS o_minus_e,
               round(CAST(vs AS DOUBLE), 6) AS variance,
               {_Q648_Z} AS z_logrank
        FROM card
    """


@query("q648_logrank_test", oracle=_q648_oracle())
def q648_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST between md5 arms on signup→purchase survival —
    the standard two-group comparison over q540's duration
    construction: per event time the exact at-risk/conversion
    contingency, O−E and hypergeometric-variance terms as exact
    rationals (9dp, decimal-summed), z portable.  The arms are an
    md5 A/A split, so the honest |z| is small (pinned < 4 in
    tests); O − E + E = O algebra pinned exactly.

    Scale shape: duration rollup → bounded event-time grid → one
    range join for at-risk counts → 1-row card."""
    e = read_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    t0 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(sec).alias("s0"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("tp"))
        .join(t0, "user_id")
        .filter(F.col("tp") >= F.col("s0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    last = e.groupBy("user_id").agg(F.max(sec).alias("tl"))
    arm = (
        t0.join(last, "user_id")
        .join(fp, "user_id", "left")
        .select(
            "user_id",
            F.when(
                F.col("tp").isNotNull(), F.expr("(tp - s0) DIV 86400")
            )
            .otherwise(F.expr("(tl - s0) DIV 86400"))
            .alias("t"),
            F.col("tp").isNotNull().alias("died"),
            (
                F.instr(
                    F.lit(_Q648_HEX),
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("lr:"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                )
                > 0
            ).alias("a"),
        )
        .localCheckpoint()
    )
    grid = arm.filter(F.col("died")).select("t").distinct()
    cells = (
        grid.join(
            arm.select(F.col("t").alias("td"), "died", "a"),
            F.col("td") >= F.col("t"),
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nr"),
            F.sum(F.when(F.col("a"), 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(
                F.when(F.col("died") & (F.col("td") == F.col("t")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("d"),
            F.sum(
                F.when(
                    F.col("a")
                    & F.col("died")
                    & (F.col("td") == F.col("t")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("d1"),
        )
    )
    card = cells.select(
        "d1",
        F.expr(_Q648_OE).cast("decimal(28,9)").alias("oet"),
        F.when(
            F.col("nr") > 1, F.expr(_Q648_VT).cast("decimal(28,9)")
        )
        .otherwise(F.lit(0).cast("decimal(28,9)"))
        .alias("vt"),
    ).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("oet").cast("decimal(28,9)").alias("oe"),
        F.sum("vt").cast("decimal(28,9)").alias("vs"),
    )
    return card.select(
        F.col("o1").alias("observed_a"),
        F.round(
            F.col("o1").cast("double") - F.col("oe").cast("double"), 6
        ).alias("expected_a"),
        F.round(F.col("oe").cast("double"), 6).alias("o_minus_e"),
        F.round(F.col("vs").cast("double"), 6).alias("variance"),
        F.expr(_Q648_Z).alias("z_logrank"),
    )


# ---------------------------------------------------------------------------
# q649 — empirical-Bayes shrinkage of per-brand return rates
# ---------------------------------------------------------------------------
#
# The plug-in EB estimator every rate leaderboard needs (public:
# Efron–Morris shrinkage): per-brand return rates shrunk toward the
# pooled rate with a method-of-moments pseudo-count mass
# m = max(μ(1−μ)/s² − 1, 0) — homogeneous rates honestly collapse to
# the prior (large m), heterogeneous ones keep their signal.

_Q649_MU = "(CAST(kt AS DOUBLE) / nt)"
_Q649_S2T = (
    "round((CAST(nb AS DOUBLE) / nt)"
    " * pow(CAST(kb AS DOUBLE) / nb - CAST(kt AS DOUBLE) / nt, 2), 9)"
)
_Q649_M = (
    f"greatest({_Q649_MU} * (1 - {_Q649_MU})"
    " / greatest(CAST(s2 AS DOUBLE), 0.000000000001) - 1, 0.0)"
)
_Q649_SHRUNK = (
    f"round((CAST(kb AS DOUBLE) + {_Q649_M} * {_Q649_MU})"
    f" / (CAST(nb AS DOUBLE) + {_Q649_M}), 6)"
)


def _q649_oracle() -> str:
    return f"""
        WITH b AS MATERIALIZED (
            SELECT p.p_brand AS brand,
                   CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                            THEN 1 ELSE 0 END) AS BIGINT) AS kb
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1
        ),
        tot AS MATERIALIZED (
            SELECT CAST(SUM(nb) AS BIGINT) AS nt,
                   CAST(SUM(kb) AS BIGINT) AS kt
            FROM b
        ),
        s2c AS MATERIALIZED (
            SELECT CAST(SUM(CAST({_Q649_S2T} AS DECIMAL(28,9)))
                        AS DECIMAL(28,9)) AS s2
            FROM b, tot
        )
        SELECT b.brand, b.nb AS n_lines, b.kb AS n_returns,
               round(CAST(b.kb AS DOUBLE) / b.nb, 6) AS raw_rate,
               round({_Q649_MU}, 6) AS pooled_rate,
               round({_Q649_M}, 6) AS pseudo_mass,
               {_Q649_SHRUNK} AS shrunk_rate
        FROM b, tot, s2c
    """


@query("q649_eb_shrinkage", oracle=_q649_oracle())
def q649_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES SHRINKAGE of per-brand return rates toward the
    pooled rate — the leaderboard de-noiser: method-of-moments
    pseudo-count mass m = max(μ(1−μ)/s² − 1, 0) from the weighted
    between-brand variance (9dp decimal terms), shrunk rate
    (k + mμ)/(n + m) portable.  On this corpus return flags are
    uniform across brands, so s² is tiny, m is large and every
    shrunk rate honestly collapses to the pooled rate — shrinkage
    lies BETWEEN raw and pooled, pinned in tests.

    Scale shape: one fact-dimension rollup to 25 brands, a 1-row
    prior card, map-side shrinkage."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    b = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("kb"),
        )
        .localCheckpoint()
    )
    tot = b.agg(
        F.sum("nb").cast("long").alias("nt"),
        F.sum("kb").cast("long").alias("kt"),
    )
    s2c = (
        b.crossJoin(F.broadcast(tot))
        .select(F.expr(_Q649_S2T).cast("decimal(28,9)").alias("t"))
        .agg(F.sum("t").cast("decimal(28,9)").alias("s2"))
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s2c))
        .select(
            "brand",
            F.col("nb").alias("n_lines"),
            F.col("kb").alias("n_returns"),
            F.round(F.expr("CAST(kb AS DOUBLE) / nb"), 6).alias(
                "raw_rate"
            ),
            F.round(F.expr(_Q649_MU), 6).alias("pooled_rate"),
            F.round(F.expr(_Q649_M), 6).alias("pseudo_mass"),
            F.expr(_Q649_SHRUNK).alias("shrunk_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q650 — seasonally-adjusted Holt backtest (q622 ∘ q632 composition)
# ---------------------------------------------------------------------------
#
# The classical forecasting stack assembled from this round's own
# pieces: deseasonalize the monthly series with q632's month-of-year
# index (quantized to exact integer micro-cents), run q622's exact
# integer Holt recursion on the adjusted series, re-seasonalize the
# one-step forecast, and report whether seasonality HELPED the
# backtest — plain vs seasonal SAE on the same months, both exact
# integers in micro-cents.

_Q650_OFFU = 10**17
_Q650_OFF = 10**16


def _q650_d10(v: int) -> int:
    return (v + _Q650_OFFU) // 10 - _Q650_OFF


def _q650_oracle() -> str:
    seas = _q632_oracle()
    lnew_p = (
        "((2 * (1000000 * ix.x) + 8 * (h.lp + h.bp))"
        " + 100000000000000000) // 10 - 10000000000000000"
    )
    lnew_s = (
        "((2 * (1000000 * ix.x - ix.sm) + 8 * (h.ls + h.bs))"
        " + 100000000000000000) // 10 - 10000000000000000"
    )
    return f"""
        WITH RECURSIVE seas AS MATERIALIZED ({seas}),
        monthly AS MATERIALIZED (
            SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ),
        idx AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT)
                       AS i,
                   x,
                   CAST(round(s.seasonal_cents * 1000000, 0)
                        AS BIGINT) AS sm
            FROM monthly mo
            JOIN seas s ON CAST(substr(mo.m, 6, 2) AS BIGINT)
                           = s.month_of_year
        ),
        nn AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx
        ),
        h(i, lp, bp, ls, bs, saep, saes) AS (
            SELECT CAST(2 AS BIGINT),
                   (SELECT 1000000 * x FROM idx WHERE i = 2),
                   (SELECT 1000000 * x FROM idx WHERE i = 2)
                       - (SELECT 1000000 * x FROM idx WHERE i = 1),
                   (SELECT 1000000 * x - sm FROM idx WHERE i = 2),
                   (SELECT 1000000 * x - sm FROM idx WHERE i = 2)
                       - (SELECT 1000000 * x - sm FROM idx
                          WHERE i = 1),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT h.i + 1,
                   CAST({lnew_p} AS BIGINT),
                   CAST(((({lnew_p}) - h.lp) + 9 * h.bp
                         + 100000000000000000)
                        // 10 - 10000000000000000 AS BIGINT),
                   CAST({lnew_s} AS BIGINT),
                   CAST(((({lnew_s}) - h.ls) + 9 * h.bs
                         + 100000000000000000)
                        // 10 - 10000000000000000 AS BIGINT),
                   CAST(h.saep + abs(1000000 * ix.x
                        - (h.lp + h.bp)) AS BIGINT),
                   CAST(h.saes + abs(1000000 * ix.x
                        - (h.ls + h.bs + ix.sm)) AS BIGINT)
            FROM h JOIN idx ix ON ix.i = h.i + 1
        )
        SELECT (SELECT n FROM nn) AS n_months,
               saep AS sae_plain_micro,
               saes AS sae_seasonal_micro,
               saes < saep AS seasonal_helped,
               round(100 * (1 - CAST(saes AS DOUBLE) / saep), 6)
                   AS improvement_pct
        FROM h WHERE i = (SELECT n FROM nn)
    """


@query("q650_holt_winters_composed", oracle=_q650_oracle())
def q650_holt_winters_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONALLY-ADJUSTED HOLT BACKTEST — q622's exact integer Holt
    recursion run on the q632-deseasonalized monthly series (seasonal
    index quantized to integer micro-cents), one-step forecasts
    re-seasonalized, and the verdict: did the classical
    additive-seasonal stack beat plain Holt on the same months?
    Both SAEs exact integers in micro-cents; the comparison and the
    improvement percentage are portable.  DuckDB runs both state
    recursions in ONE recursive CTE; Spark folds the bounded
    monthly grid in driver Python — state-for-state identical by
    the q622 offset-DIV discipline.

    Scale shape: one scan feeding both the seasonal index (13-tap
    literal-offset self-join) and the monthly grid; the fold
    touches only the bounded grid."""
    o = read_table(spark, sf_dir, "orders")
    seas = {
        int(r["month_of_year"]): int(
            round(r["seasonal_cents"] * 1000000)
        )
        for r in q632_seasonal_decomposition(spark, sf_dir).collect()
    }
    monthly = (
        o.groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("m")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
        .orderBy("m")
        .collect()
    )
    xs = [int(r["x"]) * 1000000 for r in monthly]
    sm = [seas[int(r["m"][5:7])] for r in monthly]
    n = len(xs)
    lp, bp = xs[1], xs[1] - xs[0]
    ls = xs[1] - sm[1]
    bs = (xs[1] - sm[1]) - (xs[0] - sm[0])
    saep = saes = 0
    for t in range(2, n):
        saep += abs(xs[t] - (lp + bp))
        saes += abs(xs[t] - (ls + bs + sm[t]))
        lnp = _q650_d10(2 * xs[t] + 8 * (lp + bp))
        bp = _q650_d10((lnp - lp) + 9 * bp)
        lp = lnp
        lns = _q650_d10(2 * (xs[t] - sm[t]) + 8 * (ls + bs))
        bs = _q650_d10((lns - ls) + 9 * bs)
        ls = lns
    imp = round(100 * (1 - saes / saep), 6)
    return spark.createDataFrame(
        [(n, saep, saes, saes < saep, imp)],
        "n_months long, sae_plain_micro long, sae_seasonal_micro long,"
        " seasonal_helped boolean, improvement_pct double",
    )


# ---------------------------------------------------------------------------
# Wave-4 deferred lanes: streaming twins of the wave-2/3 analytics —
# each the cheapest correct maintenance shape for its statistic
# (mergeable partials where the statistic is distributive, landed raw
# grain + drain recompute where it is holistic).
# ---------------------------------------------------------------------------


def _q651_ingest(part_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's (partkey, day, qty) partials (additive)."""
    sinks.land(part_epoch, epoch_id, path)


@query(
    "q651_streaming_newsvendor",
    oracle=QUERIES["q642_newsvendor"].oracle,
)
def q651_streaming_newsvendor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q642's newsvendor fractile under STREAMING lineitem arrival —
    daily demand partials are additive, so each epoch lands its
    (part, day, qty) partial sums and the drain merges days before
    reading the 0.8 fractile off the merged CDF.  Drain ≡ q642
    under ANY lineitem-grain slicing (a day's quantity may split
    across epochs; the day-grain merge repairs it).

    Scale shape: per-epoch partial rollup; drain = day-grain merge +
    the q642 per-part prefix fold."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from pyspark.sql import Window as W

    from databricks_etl_spark.plans.queries_round14 import _Q582_MOD
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % _Q582_MOD == 0)
        .localCheckpoint()
    )
    root = fresh_scratch_dir("nv_stream_", key=sf_dir)
    path = f"{root}/daily"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            li.filter(F.col("l_orderkey") % k == ep)
            .groupBy(
                F.col("l_partkey").alias("partkey"),
                F.col("l_shipdate").cast("date").alias("d"),
            )
            .agg(
                F.sum(F.col("l_quantity").cast("long"))
                .cast("long")
                .alias("qty")
            )
        )
        _q651_ingest(part, ep, path)
    daily = (
        sinks.landed(spark, path, "partkey long, d date, qty long")
        .groupBy("partkey", "d")
        .agg(F.sum("qty").cast("long").alias("qty"))
        .localCheckpoint()
    )
    grain = daily.groupBy("partkey", "qty").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    w = (
        W.partitionBy("partkey")
        .orderBy("qty")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = grain.withColumn("cum", F.sum("ct").over(w).cast("long"))
    tot = daily.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    qstar = (
        cum.join(tot, "partkey")
        .filter(5 * F.col("cum") >= 4 * F.col("n"))
        .groupBy("partkey")
        .agg(F.min("qty").alias("qs"))
    )
    card = (
        daily.join(qstar, "partkey")
        .join(tot, "partkey")
        .groupBy("partkey", "n", "qs")
        .agg(
            F.sum(
                F.when(
                    F.col("qty") > F.col("qs"), F.col("qty") - F.col("qs")
                ).otherwise(0)
            )
            .cast("long")
            .alias("su"),
            F.sum(
                F.when(
                    F.col("qty") < F.col("qs"), F.col("qs") - F.col("qty")
                ).otherwise(0)
            )
            .cast("long")
            .alias("so"),
            F.sum(F.when(F.col("qty") <= F.col("qs"), 1).otherwise(0))
            .cast("long")
            .alias("cq"),
        )
    )
    return card.select(
        "partkey",
        F.col("n").alias("n_days"),
        F.col("qs").alias("q_star_qty"),
        F.expr(_Q642_SL).alias("achieved_service"),
        F.expr(_Q642_UC).alias("exp_under_cost"),
        F.expr(_Q642_OC).alias("exp_over_cost"),
    )


@query(
    "q652_streaming_eb_shrinkage",
    oracle=QUERIES["q649_eb_shrinkage"].oracle,
)
def q652_streaming_eb_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q649's EB shrinkage under STREAMING lineitem arrival — brand
    (n, k) counts are mergeable partials; the drain sums them and
    re-fits the method-of-moments prior (the prior is HOLISTIC —
    refit at drain, never merged).  Drain ≡ q649 under ANY
    lineitem-grain slicing.

    Scale shape: per-epoch brand partials (25 rows each); drain is
    the q649 arithmetic."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    li = read_table(spark, sf_dir, "lineitem").localCheckpoint()
    p = read_table(spark, sf_dir, "part").localCheckpoint()
    root = fresh_scratch_dir("eb_stream_", key=sf_dir)
    path = f"{root}/brands"
    k = _r13._STREAM_EPOCHS
    for ep in range(k):
        part = (
            li.filter(F.col("l_orderkey") % k == ep)
            .join(p.select("p_partkey", "p_brand"),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("nb"),
                F.sum(
                    F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                )
                .cast("long")
                .alias("kb"),
            )
        )
        sinks.land(part, ep, path)
    b = (
        sinks.landed(spark, path, "brand string, nb long, kb long")
        .groupBy("brand")
        .agg(
            F.sum("nb").cast("long").alias("nb"),
            F.sum("kb").cast("long").alias("kb"),
        )
        .localCheckpoint()
    )
    tot = b.agg(
        F.sum("nb").cast("long").alias("nt"),
        F.sum("kb").cast("long").alias("kt"),
    )
    s2c = (
        b.crossJoin(F.broadcast(tot))
        .select(F.expr(_Q649_S2T).cast("decimal(28,9)").alias("t"))
        .agg(F.sum("t").cast("decimal(28,9)").alias("s2"))
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s2c))
        .select(
            "brand",
            F.col("nb").alias("n_lines"),
            F.col("kb").alias("n_returns"),
            F.round(F.expr("CAST(kb AS DOUBLE) / nb"), 6).alias(
                "raw_rate"
            ),
            F.round(F.expr(_Q649_MU), 6).alias("pooled_rate"),
            F.round(F.expr(_Q649_M), 6).alias("pseudo_mass"),
            F.expr(_Q649_SHRUNK).alias("shrunk_rate"),
        )
    )


def _q653_ingest(dur_epoch: DataFrame, epoch_id: int, path: str) -> None:
    """Land one epoch's user durations (user grain — a user's whole
    event history lives in one epoch, so durations are batch-local)."""
    sinks.land(dur_epoch, epoch_id, path)


@query(
    "q653_streaming_nelson_aalen",
    oracle=QUERIES["q647_nelson_aalen"].oracle,
)
def q653_streaming_nelson_aalen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q647's Nelson–Aalen hazard under STREAMING user arrival —
    durations are a user-grain pure function (signup → first
    purchase, censored at last-seen), so each user-sliced epoch
    lands its own (t, died) rows and the drain rebuilds the
    at-risk/event grid over the landed union (the risk set is
    HOLISTIC — recomputed at drain, the q628 re-rank argument for
    survival).  Drain ≡ q647 under ANY user-grain slicing.

    Scale shape: per-epoch duration rollup on the batch's users;
    drain = q647's grid fold."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.operators.quantile_bucket import exact_cumsum
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    e = read_table(spark, sf_dir, "events").localCheckpoint()
    root = fresh_scratch_dir("na_stream_", key=sf_dir)
    path = f"{root}/dur"
    k = _r13._STREAM_EPOCHS
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    for ep in range(k):
        ev = e.filter(F.col("user_id") % k == ep)
        t0 = (
            ev.filter(F.col("event_type") == "signup")
            .groupBy("user_id")
            .agg(F.min(sec).alias("s0"))
        )
        fp = (
            ev.filter(F.col("event_type") == "purchase")
            .select("user_id", sec.alias("tp"))
            .join(t0, "user_id")
            .filter(F.col("tp") >= F.col("s0"))
            .groupBy("user_id")
            .agg(F.min("tp").alias("tp"))
        )
        last = ev.groupBy("user_id").agg(F.max(sec).alias("tl"))
        dur = (
            t0.join(last, "user_id")
            .join(fp, "user_id", "left")
            .select(
                F.when(
                    F.col("tp").isNotNull(),
                    F.expr("(tp - s0) DIV 86400"),
                )
                .otherwise(F.expr("(tl - s0) DIV 86400"))
                .alias("t"),
                F.col("tp").isNotNull().alias("died"),
            )
        )
        _q653_ingest(dur, ep, path)
    dur = (
        sinks.landed(spark, path, "t long, died boolean")
        .select("t", "died")
        .localCheckpoint()
    )
    grid = dur.filter(F.col("died")).select("t").distinct()
    risk = (
        grid.join(dur.select(F.col("t").alias("td"), "died"),
                  F.col("td") >= F.col("t"))
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_risk"),
            F.sum(
                F.when(F.col("died") & (F.col("td") == F.col("t")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("d_events"),
        )
        .withColumn(
            "h9u",
            F.expr(
                "CAST(round(CAST(d_events AS DOUBLE) / n_at_risk, 9)"
                " AS DECIMAL(28,9))"
            )
            .cast("decimal(28,9)")
            * 1000000000,
        )
        .withColumn("h9u", F.col("h9u").cast("long"))
    )
    cum = exact_cumsum(risk, ["t"], "h9u", out_col="chu")
    return cum.select(
        F.col("t").cast("long").alias("t_days"),
        "n_at_risk",
        "d_events",
        F.round(
            F.col("chu").cast("double") / F.lit(1000000000.0), 6
        ).alias("cumulative_hazard"),
    )


@query(
    "q654_streaming_assortativity",
    oracle=QUERIES["q640_degree_assortativity"].oracle,
)
def q654_streaming_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q640's degree assortativity under STREAMING edge arrival —
    degrees are a GLOBAL property of the landed graph, so epochs
    land batch-local co-order edges (the q627 state) and the drain
    recomputes degrees and the moment card from the deduped union.
    Drain ≡ q640 under ANY order-grain slicing.

    Scale shape: per-epoch edge partials; drain = one degree rollup
    + edge decoration + 1-row moments."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _Q514_MOD == 0)
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint()
    )
    root = fresh_scratch_dir("assort_stream_", key=sf_dir)
    path = f"{root}/state"
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
    deg = edges.groupBy(F.col("src").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint()
    el = (
        edges.join(
            deg.select(F.col("pk").alias("src"), F.col("d").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("pk").alias("dst"), F.col("d").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = el.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    r = _q613_r("sxy", "sx", "sy", "sxx", "syy")
    return m.select(
        F.col("n").alias("n_edges"),
        F.round(F.expr("CAST(sx AS DOUBLE) / n"), 6).alias(
            "mean_src_degree"
        ),
        F.round(F.expr(r), 6).alias("assortativity"),
    )


@query(
    "q655_streaming_kcore",
    oracle=QUERIES["q620_kcore_peeling"].oracle,
)
def q655_streaming_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q620's k-core peeling under STREAMING edge arrival — core
    membership is GLOBAL (an epoch-local peel would drop nodes whose
    support arrives later), so the drain re-peels the landed union
    (q627's edge+node state).  Drain ≡ q620 under ANY order-grain
    slicing.

    Scale shape: per-epoch edge/node partials; drain = q620's six
    semi-join peels."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.plans.queries_round13 import _Q514_MOD
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _Q514_MOD == 0)
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint()
    )
    root = fresh_scratch_dir("kcore_stream_", key=sf_dir)
    path = f"{root}/state"
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
    surv = (
        sinks.landed(spark, f"{path}/nodes", "pk long")
        .select("pk")
        .distinct()
        .localCheckpoint()
    )
    cards = []
    for i in range(1, _Q620_ROUNDS + 1):
        e_in = (
            edges.join(surv.withColumnRenamed("pk", "src"), "src")
            .join(surv.withColumnRenamed("pk", "dst"), "dst")
            .select("src", "dst")
        )
        surv = (
            e_in.groupBy(F.col("src").alias("pk"))
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= _Q620_K)
            .select("pk")
            .localCheckpoint()
        )
        e_after = (
            edges.join(surv.withColumnRenamed("pk", "src"), "src")
            .join(surv.withColumnRenamed("pk", "dst"), "dst")
        )
        cards.append(
            surv.agg(
                F.count(F.lit(1)).cast("long").alias("nodes_remaining")
            )
            .crossJoin(
                e_after.agg(
                    F.count(F.lit(1)).cast("long").alias(
                        "edges_remaining"
                    )
                )
            )
            .select(
                F.lit(i).cast("long").alias("round"),
                "nodes_remaining",
                "edges_remaining",
            )
        )
    out = cards[0]
    for c in cards[1:]:
        out = out.unionByName(c)
    return out


@query(
    "q656_streaming_mutual_information",
    oracle=QUERIES["q643_mutual_information"].oracle,
)
def q656_streaming_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q643's mutual-information matrix under STREAMING order arrival
    — the same mergeable contingency-cell state as q631, with the
    information edge at drain (MI/entropy are holistic in the cell
    ratios, so only the CELLS are maintained incrementally).
    Drain ≡ q643 under ANY order-grain slicing.

    Scale shape: shared with q631 — cell partials per epoch, cell
    merge + margin/entropy arithmetic at drain."""
    import databricks_etl_spark.plans.queries_round13 as _r13
    from databricks_etl_spark.sources.writers import fresh_scratch_dir

    o = read_table(spark, sf_dir, "orders").localCheckpoint()
    cust = read_table(spark, sf_dir, "customer").localCheckpoint()
    root = fresh_scratch_dir("mi_stream_", key=sf_dir)
    path = f"{root}/cells"
    k = _r13._STREAM_EPOCHS
    pairs = [
        ("seg_x_priority", "c_mktsegment", "o_orderpriority"),
        ("seg_x_status", "c_mktsegment", "o_orderstatus"),
        ("priority_x_status", "o_orderpriority", "o_orderstatus"),
    ]
    for ep in range(k):
        j = o.filter(F.col("o_orderkey") % k == ep).join(
            cust, F.col("o_custkey") == F.col("c_custkey")
        )
        v = None
        for nm, ca, cb in pairs:
            part = j.select(
                F.lit(nm).alias("pair"),
                F.col(ca).alias("av"),
                F.col(cb).alias("bv"),
            )
            v = part if v is None else v.unionByName(part)
        cells = v.groupBy("pair", "av", "bv").agg(
            F.count(F.lit(1)).cast("long").alias("o")
        )
        _q631_ingest(cells, ep, path)
    cells = (
        sinks.landed(spark, path, "pair string, av string, bv string, o long")
        .groupBy("pair", "av", "bv")
        .agg(F.sum("o").cast("long").alias("o"))
        .localCheckpoint()
    )
    rows_ = cells.groupBy("pair", "av").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_ = cells.groupBy("pair", "bv").agg(
        F.sum("o").cast("long").alias("ct")
    )
    tots = cells.groupBy("pair").agg(
        F.sum("o").cast("long").alias("n")
    ).localCheckpoint()
    mi = (
        cells.join(rows_, ["pair", "av"])
        .join(cols_, ["pair", "bv"])
        .join(F.broadcast(tots), "pair")
        .select(
            "pair", F.expr(_Q643_MIT).cast("decimal(28,9)").alias("t")
        )
        .groupBy("pair")
        .agg(F.sum("t").cast("decimal(28,9)").alias("mi"))
    )
    ha = (
        rows_.join(F.broadcast(tots), "pair")
        .select(
            "pair",
            F.expr(_Q643_HT.replace("mt", "rt"))
            .cast("decimal(28,9)")
            .alias("t"),
        )
        .groupBy("pair")
        .agg(F.sum("t").cast("decimal(28,9)").alias("ha"))
    )
    hb = (
        cols_.join(F.broadcast(tots), "pair")
        .select(
            "pair",
            F.expr(_Q643_HT.replace("mt", "ct"))
            .cast("decimal(28,9)")
            .alias("t"),
        )
        .groupBy("pair")
        .agg(F.sum("t").cast("decimal(28,9)").alias("hb"))
    )
    return (
        tots.join(mi, "pair")
        .join(ha, "pair")
        .join(hb, "pair")
        .select(
            "pair",
            F.col("n").alias("n_rows"),
            F.round(F.col("mi").cast("double"), 6).alias("mi_nats"),
            F.round(F.col("ha").cast("double"), 6).alias("h_a"),
            F.round(F.col("hb").cast("double"), 6).alias("h_b"),
            F.expr(_Q643_NMI).alias("nmi"),
        )
    )
