r"""Round-10 queries: the multi-probe IVF recall sweep (the recall-vs-
n_probe CURVE q332's one-point eval implied), the realized-mixture
audit over the dataloader stream, incremental dataloader-order
maintenance, the materialized training-artifact manifest, and chunk
packing re-based on subword lengths (VERDICT r9 #2/#3/#4/#5/#7).

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) have no training-data machinery at all;
these extend the engine's north-star LLM-data surface (SURVEY.md §2.12).
"""

from __future__ import annotations

from dataclasses import replace as _replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.plans.registry import QUERIES, query
from databricks_etl_spark.sources.readers import read_table

# the oracles below embed round-8/9 oracle SQL via the registry, so a
# DIRECT import of this module must register those rounds first
import databricks_etl_spark.plans.queries_round9  # noqa: E402,F401  isort: skip

from databricks_etl_spark.plans.queries_round9 import (  # noqa: E402
    _Q332_D,
    _Q332_K,
    _Q332_TOPK,
    _q332_base_sql,
    _q332_relations,
    _q332_sim_sql,
)

# ---------------------------------------------------------------------------
# q341 — multi-probe IVF retrieval: the recall-vs-n_probe curve
# ---------------------------------------------------------------------------

_Q341_PROBES = (1, 2, 4, 8)  # n_probe sweep; 8 == _Q332_K is full probe


def _q341_cell_sums_sql(col: str) -> list[str]:
    """Per-cell dim sums s_j over a LIST column — the q332 comb-
    quantizer score (argmin distance ≡ argmax s_j), one expression per
    cell."""
    return [
        " + ".join(f"{col}[{i + 1}]" for i in range(_Q332_D) if i % _Q332_K == j)
        for j in range(_Q332_K)
    ]


def _q341_truth_sql(sample_pred: str = "", topk: int = _Q332_TOPK) -> str:
    """The scored-pass CTE head shared by q341's oracle and the graded
    nDCG twin (queries_round11.q396): everything through the exact
    ``truth`` relation (qid, rk, cell_rank), ranked to ``topk``.
    ``sample_pred`` (a predicate over the cemb alias ``c``) restricts
    the scored corpus (the q388 twin); both defaults are
    byte-identical to q341's original oracle head."""
    s = _q341_cell_sums_sql("qe")
    sc = (
        "CASE "
        + " ".join(f"WHEN cell = {j} THEN ({s[j]})" for j in range(_Q332_K))
        + " END"
    )
    rank_terms = " + ".join(
        f"CASE WHEN ({s[k]}) > sc OR (({s[k]}) = sc AND {k} < cell) "
        f"THEN 1 ELSE 0 END"
        for k in range(_Q332_K)
    )
    where = f"WHERE {sample_pred}" if sample_pred else ""
    return f"""
        WITH {_q332_base_sql()},
        s0 AS (
            SELECT q.qid, c.doc_id, c.chunk_idx, c.cell, q.qe,
                   {_q332_sim_sql()} AS sim
            FROM qemb q JOIN cemb c ON TRUE
            {where}
        ),
        s1 AS (
            SELECT qid, doc_id, chunk_idx, cell, qe, sim, {sc} AS sc
            FROM s0
        ),
        sr AS (
            SELECT qid, doc_id, chunk_idx, sim,
                   1 + ({rank_terms}) AS cell_rank
            FROM s1
        ),
        truth AS (
            SELECT qid, rk, cell_rank FROM (
                SELECT qid, cell_rank,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, doc_id, chunk_idx) AS rk
                FROM sr
            ) WHERE rk <= {topk}
        )"""


def _q341_oracle(sample_pred: str = "") -> str:
    """q341's oracle; ``sample_pred`` restricts the scored corpus for
    the bench-able sampled-truth twin (queries_round11.q388) — empty
    default is byte-identical. The scored-pass head is the shared
    :func:`_q341_truth_sql`."""
    probes = ", ".join(str(p) for p in _Q341_PROBES)
    return f"""{_q341_truth_sql(sample_pred)},
        pr AS (SELECT CAST(unnest([{probes}]) AS INTEGER) AS n_probe),
        per AS (
            SELECT pr.n_probe, t.qid,
                   CAST(round(SUM(CASE WHEN t.cell_rank <= pr.n_probe
                                       THEN 1 ELSE 0 END)
                              / {_Q332_TOPK}.0, 6)
                        AS DECIMAL(18,9)) AS recall10,
                   CAST(MAX(CASE WHEN t.rk = 1
                                  AND t.cell_rank <= pr.n_probe
                                 THEN 1.0 ELSE 0.0 END)
                        AS DECIMAL(18,9)) AS top1
            FROM truth t JOIN pr ON TRUE
            GROUP BY 1, 2
        )
        SELECT n_probe,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(recall10) AS DOUBLE) / COUNT(*), 6)
                   AS mean_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS top1_recall
        FROM per GROUP BY 1
    """


def _q341_cell_rank(emb, cell) -> F.Column:
    """Rank (1-based) of ``cell`` within the per-cell score ordering of
    ``emb`` (score DESC, smallest-cell-id tiebreak) — the probe order
    of IVF multi-probe, as a pure per-row expression (Spark twin of the
    oracle's sr CTE). cell_rank == 1 reproduces q332's argmax cell by
    the same tiebreak."""
    s = [
        sum(
            (F.element_at(emb, i + 1) for i in range(_Q332_D) if i % _Q332_K == j),
            F.lit(0.0),
        )
        for j in range(_Q332_K)
    ]
    sc = F.when(cell == 0, s[0])
    for j in range(1, _Q332_K):
        sc = sc.when(cell == j, s[j])
    hits = [
        F.when((s[k] > sc) | ((s[k] == sc) & (F.lit(k) < cell)), 1).otherwise(0)
        for k in range(_Q332_K)
    ]
    return F.lit(1) + reduce(lambda a, b: a + b, hits)


def _q341_truth(
    spark: SparkSession,
    sf_dir: str,
    sample: F.Column | None = None,
    topk: int = _Q332_TOPK,
) -> DataFrame:
    """Exact top-``topk`` per query with each hit's probe depth:
    (qid, rk, cell_rank) — everything the sweep needs, in ONE scored
    pass. ``sample`` restricts the scored corpus (the q388 twin);
    ``topk`` deepens the ranked prefix (the q396 graded-nDCG twin);
    both defaults are byte-identical to q341's own pass."""
    from databricks_etl_spark.operators.similarity import norm

    cemb, qemb = _q332_relations(spark, sf_dir)
    if sample is not None:
        cemb = cemb.filter(sample)
    # r16 OPT (guide §1.2 "per-task work", §4.1 prefer codegen): the
    # scored pass runs |chunks|×|queries| pair expressions, so every
    # factor computable per ROW is hoisted out of the pair: the two
    # norms (sim = dot/(qn·cn) — the same sqrt(dot(x,x)) values the
    # fused cosine recomputed per pair, multiplied in the same order,
    # bit-identical) and the probe order, which depends only on the
    # QUERY embedding — per query a K-slot array of cell ranks is
    # precomputed on the broadcast side and the pair just indexes it.
    # The remaining pair dot is unrolled to a fixed-D codegen
    # expression (same left-to-right fold order as the old
    # zip_with/aggregate, so the float result is identical) instead of
    # allocating a zipped array per pair.
    # r16 #2 (build cost): every unrolled expression here is compiled
    # from ONE SQL string (F.expr) — the former per-Column construction
    # was ~19k py4j round trips ≈ 3s of pure Python/py4j DataFrame
    # BUILD per invocation, dominating the bench lane's wall clock.
    # Fold orders and CASE shapes are byte-identical to the old
    # Column-level forms (left-associative +, same literal tiebreaks).
    from databricks_etl_spark.plans.queries_round9 import _q332_with_sums

    # _q341_cell_rank specialised to a LITERAL cell j: sc is s[j] and
    # the k<cell tiebreak is a Python constant — same values, no CASE
    # chain per pair. The per-cell sums are materialized ONCE as
    # ``__cs{j}`` columns (_q332_with_sums) so the 64 comparisons here
    # reference column refs instead of inlining each 4-term sum —
    # whole-stage codegen rebuilds its source per action, and the
    # inlined form alone was ~15 KB of expression tree (~0.5 MB of
    # generated Java) on the broadcast build side.
    ranks = ", ".join(
        "1 + "
        + " + ".join(
            f"(CASE WHEN (__cs{k} > __cs{j}) OR ((__cs{k} = __cs{j})"
            f" AND {str(k < j).lower()}) THEN 1 ELSE 0 END)"
            for k in range(_Q332_K)
        )
        for j in range(_Q332_K)
    )
    qemb = _q332_with_sums(
        qemb.select("qid", "qe", norm(F.col("qe")).alias("__qn")), "qe"
    ).select(
        "qid",
        "qe",
        "__qn",
        F.expr(f"array({ranks}) AS __qranks"),
    )
    cemb = cemb.select(
        "doc_id", "chunk_idx", "cell", "ce", norm(F.col("ce")).alias("__cn")
    )
    pair_dot = "0.0D + " + " + ".join(
        f"(CAST(element_at(qe, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at(ce, {i + 1}) AS DOUBLE))"
        for i in range(_Q332_D)
    )
    sr = cemb.join(F.broadcast(qemb), F.lit(True)).select(
        "qid",
        "doc_id",
        "chunk_idx",
        F.expr(f"round(try_divide({pair_dot}, __qn * __cn), 6) AS sim"),
        F.element_at(
            F.col("__qranks"), F.col("cell").cast("int") + 1
        ).alias("cell_rank"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("sim"), F.asc("doc_id"), F.asc("chunk_idx")
    )
    return (
        sr.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("qid", "rk", "cell_rank")
    )


@query("q341_ivf_probe_sweep", oracle=_q341_oracle())
def q341_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-n_probe CURVE for q332's IVF index — what a RAG
    deployment actually tunes (q332's own result showed recall@10 =
    0.61 at n_probe=1; the sweep shows what each extra probe buys).

    One scored pass covers the whole sweep, by construction rather than
    4× re-retrieval: under the shared (sim DESC, doc, chunk) total
    order, a truth-top-k item has ≤ k-1 items above it globally, hence
    ≤ k-1 above it in ANY candidate subset — so once its cell is probed
    it can never be evicted from the ANN top-k. Retrieval at n_probe=p
    therefore hits exactly the truth items whose cell sits within the
    query's first p probe cells (``cell_rank <= p``), and the sweep is
    a bounded rollup over (probe level × query) of the SAME truth
    relation q332 ranks. Two invariants fall out and are tested:
    recall is monotone in n_probe, and n_probe={_Q332_K} (full probe)
    is EXACTLY 1.0 — the q116 full-probe-exactness precedent.

    Scale shape: inherits q332's (broadcast query set, one map-side
    scoring pass, no centroid join — probe order is a pure per-row
    expression); the sweep itself adds only a {len(_Q341_PROBES)}-way
    explode of the ≤ k-per-query truth rows. 100 TB: identical to
    q332 plus an O(queries × k × probes) rollup."""
    return _q341_sweep(_q341_truth(spark, sf_dir))


def _q341_sweep(truth: DataFrame) -> DataFrame:
    """The probe-level rollup over a (qid, rk, cell_rank) truth
    relation — shared by q341 and the sampled-truth bench twin
    (queries_round11.q388)."""
    probed = truth.select(
        "qid",
        "rk",
        "cell_rank",
        F.explode(
            F.array(*[F.lit(p) for p in _Q341_PROBES])
        ).alias("n_probe"),
    )
    per = probed.groupBy("n_probe", "qid").agg(
        F.round(
            F.sum(
                F.when(F.col("cell_rank") <= F.col("n_probe"), 1).otherwise(0)
            )
            / float(_Q332_TOPK),
            6,
        )
        .cast("decimal(18,9)")
        .alias("recall10"),
        F.max(
            F.when(
                (F.col("rk") == 1) & (F.col("cell_rank") <= F.col("n_probe")),
                F.lit(1.0),
            ).otherwise(F.lit(0.0))
        )
        .cast("decimal(18,9)")
        .alias("top1"),
    )
    n = F.count(F.lit(1))
    return per.groupBy("n_probe").agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("recall10").cast("double") / n, 6).alias(
            "mean_recall_at_10"
        ),
        F.round(F.sum("top1").cast("double") / n, 6).alias("top1_recall"),
    )


# ---------------------------------------------------------------------------
# q342 — realized-mixture audit over the dataloader stream
# ---------------------------------------------------------------------------


def _q342_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import temp_weight_sql
    from databricks_etl_spark.plans.queries_round9 import _q326_oracle

    o312 = QUERIES["q312_training_manifest"].oracle
    return f"""
        WITH shipped AS MATERIALIZED (
            SELECT doc_id FROM ({o312}) WHERE ship
        ),
        pool AS (
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_shipped
            FROM shipped JOIN documents d USING (doc_id) GROUP BY 1
        ),
        tw AS (SELECT CAST(SUM(CAST({temp_weight_sql('n_shipped')}
                   AS DECIMAL(28,9))) AS DOUBLE) AS tw FROM pool),
        tgt AS (
            SELECT source,
                   round({temp_weight_sql('n_shipped')} / tw.tw, 6)
                       AS target_share
            FROM pool, tw
        ),
        ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        eps AS (SELECT DISTINCT epoch FROM ord),
        slots AS (
            SELECT o.epoch, d.source, CAST(COUNT(*) AS BIGINT) AS n
            FROM ord o JOIN documents d USING (doc_id) GROUP BY 1, 2
        ),
        grid AS (
            SELECT t.source, t.target_share, e.epoch FROM tgt t, eps e
        ),
        fil AS (
            SELECT g.epoch, g.source,
                   CAST(COALESCE(s.n, 0) AS BIGINT) AS n_doc_slots,
                   g.target_share
            FROM grid g LEFT JOIN slots s
                ON g.epoch = s.epoch AND g.source = s.source
        ),
        et AS (
            SELECT epoch, SUM(n_doc_slots) AS tot FROM fil GROUP BY 1
        ),
        dv AS (
            SELECT f.epoch, f.source, f.n_doc_slots,
                   round(CAST(f.n_doc_slots AS DOUBLE)
                         / CAST(et.tot AS DOUBLE), 6) AS realized_share,
                   f.target_share
            FROM fil f JOIN et USING (epoch)
        )
        SELECT epoch, source, n_doc_slots, realized_share, target_share,
               round(realized_share - target_share, 6) AS deviation,
               (row_number() OVER (PARTITION BY epoch
                    ORDER BY abs(realized_share - target_share) DESC,
                             source) = 1) AS is_max_abs_deviation
        FROM dv
    """


@query("q342_realized_mixture_audit", oracle=None)  # oracle set below
def q342_realized_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the stream the dataloader REPLAYS actually deliver the
    mixture the temperature rule promises? q315 fixes the targets and
    q326 fixes the order, but nothing between them checked the
    realized per-epoch source mixture — the thing temperature mixing
    exists to guarantee. Per (epoch, source): doc-slot share within
    the epoch vs the q315 temperature target (count^alpha over the
    SHIPPED pool, the same exported kernel), the signed deviation, and
    the epoch's worst-deviation row flagged. Sources absent from an
    epoch (their q323 budget ran out) appear with zero slots — exactly
    the honest drift: later epochs lose the low-epoch sources, so the
    mixture departs from target and the audit shows by how much.

    Composes two registered queries (q312's ship pool, q326's stream)
    like q334, so the audit cannot drift from the artifacts it checks.
    Scale shape: both rollups are (epoch x source)-bounded; the grid
    is a broadcast cross of two tiny aggregates; the only real cost is
    the q326 composition itself."""
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        temp_weight_col,
    )
    from databricks_etl_spark.plans.queries_round9 import q326_dataloader_order

    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    # r16 OPT (guide §2.4 / §5): pool is consumed twice (the decimal
    # total and the target shares) and each consumer re-ran the whole
    # q312 ship pipeline; one lazy materialization of the per-source
    # rollup (bounded: one row per source) computes q312 once.
    pool = (
        ship.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shipped"))
        .localCheckpoint(eager=False)
    )
    # decimal-stable cross-partition sum (README rule): cast each weight
    # to decimal(28,9) so the fold is exact and order-independent, then
    # back to double for the share arithmetic.
    tw = pool.agg(
        F.sum(temp_weight_col(F.col("n_shipped")).cast("decimal(28,9)"))
        .cast("double")
        .alias("tw")
    )
    tgt = pool.crossJoin(F.broadcast(tw)).select(
        "source",
        F.round(temp_weight_col(F.col("n_shipped")) / F.col("tw"), 6).alias(
            "target_share"
        ),
    )
    # same reasoning: ordr feeds both the per-(epoch, source) slots
    # and the epoch grid — one lazy materialization instead of two
    # full q326 (which itself composes q312) executions.
    ordr = q326_dataloader_order(spark, sf_dir).localCheckpoint(eager=False)
    slots = (
        ordr.join(src, "doc_id")
        .groupBy("epoch", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    eps = ordr.select("epoch").distinct()
    grid = tgt.crossJoin(F.broadcast(eps))
    fil = grid.join(slots, ["epoch", "source"], "left").select(
        "epoch",
        "source",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_doc_slots"),
        "target_share",
    )
    et = fil.groupBy("epoch").agg(F.sum("n_doc_slots").alias("tot"))
    dv = fil.join(F.broadcast(et), "epoch").select(
        "epoch",
        "source",
        "n_doc_slots",
        F.round(
            F.col("n_doc_slots").cast("double") / F.col("tot").cast("double"),
            6,
        ).alias("realized_share"),
        "target_share",
    )
    w = Window.partitionBy("epoch").orderBy(
        F.abs(F.col("realized_share") - F.col("target_share")).desc(),
        F.asc("source"),
    )
    return dv.select(
        "epoch",
        "source",
        "n_doc_slots",
        "realized_share",
        "target_share",
        F.round(F.col("realized_share") - F.col("target_share"), 6).alias(
            "deviation"
        ),
        (F.row_number().over(w) == 1).alias("is_max_abs_deviation"),
    )


QUERIES["q342_realized_mixture_audit"] = _replace(
    QUERIES["q342_realized_mixture_audit"], oracle=_q342_oracle()
)


# ---------------------------------------------------------------------------
# q343 — incremental dataloader-order maintenance (delta re-pack, frozen shards)
# ---------------------------------------------------------------------------


def _q343_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import (
        _B327,
        _Q326_B,
        _Q326_P,
        _grouped_ffd_sql,
    )

    o312 = QUERIES["q312_training_manifest"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
    o327 = QUERIES["q327_manifest_maintenance"].oracle
    return f"""
        WITH RECURSIVE
        ship AS MATERIALIZED (SELECT doc_id FROM ({o312}) WHERE ship),
        ep AS MATERIALIZED (SELECT source, epochs FROM ({o323})),
        base AS MATERIALIZED (
            SELECT d.doc_id, least({_Q291_TOKS}, {_Q326_B}) AS len,
                   e.epochs AS eclass
            FROM documents d
            JOIN ship ON d.doc_id = ship.doc_id
            JOIN ep e ON d.source = e.source
        ),
        sc AS MATERIALIZED (
            SELECT eclass, CAST(ceil(COUNT(*) / {_Q326_P}.0) AS BIGINT) AS s
            FROM base GROUP BY 1
        ),
        dship AS MATERIALIZED (SELECT doc_id FROM ({o327}) WHERE ship),
        ddocs AS MATERIALIZED (
            SELECT dd0.doc_id + {_B327} AS doc_id,
                   least({_Q291_TOKS}, {_Q326_B}) AS len,
                   e.epochs AS eclass
            FROM documents dd0
            JOIN ep e ON dd0.source = e.source
            JOIN dship ON dd0.doc_id + {_B327} = dship.doc_id
            WHERE dd0.doc_id % 5 = 1
        ),
        allin AS MATERIALIZED (
            SELECT b.doc_id, b.len, b.eclass, b.doc_id % sc.s AS shard
            FROM base b JOIN sc ON b.eclass = sc.eclass
            UNION ALL
            SELECT d.doc_id, d.len, d.eclass, d.doc_id % sc.s
            FROM ddocs d JOIN sc ON d.eclass = sc.eclass
        ),
        touched AS MATERIALIZED (
            SELECT DISTINCT d.eclass, d.doc_id % sc.s AS shard
            FROM ddocs d JOIN sc ON d.eclass = sc.eclass
        ),
        it AS MATERIALIZED (
            SELECT doc_id, len, eclass, shard,
                   row_number() OVER (
                       PARTITION BY eclass, shard
                       ORDER BY len DESC, doc_id) AS k
            FROM allin
        ),
        {_grouped_ffd_sql()}
        SELECT p.doc_id, p.eclass, CAST(p.shard AS BIGINT) AS shard,
               CAST(p.seq_uid AS BIGINT) AS seq_uid,
               CAST(p.off AS BIGINT) AS seq_offset,
               CAST(a.len AS BIGINT) AS n_tokens,
               (p.doc_id >= {_B327}) AS is_delta_doc,
               (t.shard IS NOT NULL) AS shard_touched
        FROM placed p
        JOIN allin a ON p.doc_id = a.doc_id
        LEFT JOIN touched t ON p.eclass = t.eclass AND p.shard = t.shard
    """


@query("q343_incremental_order_maintenance", oracle=None)  # oracle set below
def q343_incremental_order_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of the ORDER artifact's placement layer:
    when a delta of newly shipped docs (q327's verdicts) lands, only
    the (eclass, shard) FFD groups that RECEIVE a delta doc re-pack;
    every untouched shard's placement rows are byte-identical to the
    persisted artifact — _q327_collision_pairs' delta discipline
    applied to ``ffd_pack``.

    The key mechanical point is the FROZEN shard moduli: a persisted
    packing's per-eclass modulus is part of the artifact, so delta
    docs hash into shards with the CORPUS-sized moduli
    (``ffd_pack(shard_col=...)``, the new frozen-shard path) —
    re-deriving moduli from the grown corpus would move every doc's
    shard and re-pack the world. Delta work is therefore
    |touched shards| x shard_size Arrow folds, independent of corpus
    size; the corpus-side placement here stands in for reading the
    persisted artifact back (the q327 persisted-index convention).
    Output is placement-grain (doc_id, eclass, shard, seq_uid,
    seq_offset, n_tokens) with is_delta_doc / shard_touched flags;
    seq_uid keeps q326's low-bits-eclass packing so maintained and
    original artifacts share one id space. The oracle states the
    equivalent BATCH re-pack over corpus ∪ delta with the same frozen
    moduli — the incremental path must (and does) reproduce it
    exactly; a test additionally pins untouched-shard rows to the
    corpus-only packing."""
    parts = _q343_build(spark, sf_dir)
    return parts["kept"].unionByName(parts["repacked"])


def _q343_build(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """q343's moving parts, exposed for composition (q346 publishes
    pre/post artifacts from the same relations): ``corpus`` — the full
    persisted corpus packing; ``kept``/``repacked`` — q343's finished
    untouched/re-folded rows."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        q323_epoch_allocation,
    )
    from databricks_etl_spark.plans.queries_round9 import (
        _B327,
        _Q326_B,
        _Q326_P,
        _Q326_SEQNS,
        q327_manifest_maintenance,
    )

    d = read_table(spark, sf_dir, "documents")
    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    ep = q323_epoch_allocation(spark, sf_dir).select("source", "epochs")
    clamped_len = F.least(
        F.size(tokens_col("text")).cast("long"), F.lit(_Q326_B).cast("long")
    ).alias("len")
    # r16 OPT (guide §2.4): base feeds both the shard-count rollup and
    # the corpus packing input; corpus_in feeds both the persisted
    # packing and the incremental re-fold; delta_in (which runs the
    # q327 maintenance composition) feeds both the touched-shard set
    # and the re-fold union. Lazy materializations bound each pipeline
    # to one execution per invocation.
    base = (
        d.join(ship, "doc_id")
        .join(F.broadcast(ep), "source")
        .select("doc_id", clamped_len, F.col("epochs").cast("long").alias("eclass"))
        .localCheckpoint(eager=False)
    )
    sc = base.groupBy("eclass").agg(
        F.ceil(F.count(F.lit(1)) / float(_Q326_P)).cast("long").alias("s")
    )
    shard = (F.col("doc_id") % F.col("s")).cast("long").alias("shard")
    corpus_in = base.join(F.broadcast(sc), "eclass").select(
        "doc_id", "len", "eclass", shard
    ).localCheckpoint(eager=False)
    # the persisted placement artifact (production reads this back)
    corpus_placed = ffd_pack(
        corpus_in, _Q326_B, group_col="eclass", shard_col="shard"
    )
    # delta docs that ship, with frozen-modulus shard assignment; the
    # token count is computed on the source text (q327's delta bodies
    # are verbatim or token-reversed — both length-preserving)
    dship = (
        q327_manifest_maintenance(spark, sf_dir).filter("ship").select("doc_id")
    )
    ddocs = (
        d.filter(F.col("doc_id") % 5 == 1)
        .select((F.col("doc_id") + _B327).alias("doc_id"), clamped_len, "source")
        .join(F.broadcast(ep), "source")
        .select("doc_id", "len", F.col("epochs").cast("long").alias("eclass"))
        .join(dship, "doc_id")
    )
    delta_in = ddocs.join(F.broadcast(sc), "eclass").select(
        "doc_id", "len", "eclass", shard
    ).localCheckpoint(eager=False)
    touched = delta_in.select("eclass", "shard").distinct()
    # INCREMENTAL work: re-fold ONLY the groups a delta doc lands in
    touched_in = corpus_in.join(
        F.broadcast(touched), ["eclass", "shard"]
    ).unionByName(delta_in)
    repacked = ffd_pack(
        touched_in, _Q326_B, group_col="eclass", shard_col="shard"
    )
    shard_of_seq = F.expr(f"seq_id DIV {_Q326_SEQNS}").alias("shard")
    kept = (
        corpus_placed.select("*", shard_of_seq)
        .join(F.broadcast(touched), ["eclass", "shard"], "left_anti")
    )

    def finish(pl: DataFrame, touched_flag: bool) -> DataFrame:
        return pl.select(
            "doc_id",
            "eclass",
            "shard",
            (F.col("seq_id") * 8 + F.col("eclass")).alias("seq_uid"),
            "seq_offset",
            "n_tokens",
            (F.col("doc_id") >= _B327).alias("is_delta_doc"),
            F.lit(touched_flag).alias("shard_touched"),
        )

    return {
        "corpus": finish(corpus_placed.select("*", shard_of_seq), False),
        "kept": finish(kept, False),
        "repacked": finish(repacked.select("*", shard_of_seq), True),
    }


QUERIES["q343_incremental_order_maintenance"] = _replace(
    QUERIES["q343_incremental_order_maintenance"], oracle=_q343_oracle()
)


# ---------------------------------------------------------------------------
# q346 — incremental artifact publish: only touched shard files change
# ---------------------------------------------------------------------------

_Q346_COLS = ("doc_id", "eclass", "shard", "seq_uid", "seq_offset", "n_tokens")


def _q346_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import (
        _B327,
        _Q326_B,
        _Q326_P,
        _grouped_ffd_sql,
    )

    o312 = QUERIES["q312_training_manifest"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
    o327 = QUERIES["q327_manifest_maintenance"].oracle
    payload = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in _Q346_COLS)
    manifest = f"""SELECT eclass, shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM({_md5_mod_sql(payload)}) AS BIGINT) AS h
            FROM {{rows}} GROUP BY 1, 2"""
    return f"""
        WITH RECURSIVE
        ship AS MATERIALIZED (SELECT doc_id FROM ({o312}) WHERE ship),
        ep AS MATERIALIZED (SELECT source, epochs FROM ({o323})),
        base AS MATERIALIZED (
            SELECT d.doc_id, least({_Q291_TOKS}, {_Q326_B}) AS len,
                   e.epochs AS eclass
            FROM documents d
            JOIN ship ON d.doc_id = ship.doc_id
            JOIN ep e ON d.source = e.source
        ),
        sc AS MATERIALIZED (
            SELECT eclass, CAST(ceil(COUNT(*) / {_Q326_P}.0) AS BIGINT) AS s
            FROM base GROUP BY 1
        ),
        dship AS MATERIALIZED (SELECT doc_id FROM ({o327}) WHERE ship),
        ddocs AS MATERIALIZED (
            SELECT dd0.doc_id + {_B327} AS doc_id,
                   least({_Q291_TOKS}, {_Q326_B}) AS len,
                   e.epochs AS eclass
            FROM documents dd0
            JOIN ep e ON dd0.source = e.source
            JOIN dship ON dd0.doc_id + {_B327} = dship.doc_id
            WHERE dd0.doc_id % 5 = 1
        ),
        allin AS MATERIALIZED (
            SELECT b.doc_id, b.len, b.eclass, b.doc_id % sc.s AS shard
            FROM base b JOIN sc ON b.eclass = sc.eclass
            UNION ALL
            SELECT d.doc_id, d.len, d.eclass, d.doc_id % sc.s
            FROM ddocs d JOIN sc ON d.eclass = sc.eclass
        ),
        it AS MATERIALIZED (
            SELECT doc_id, len, eclass, shard,
                   row_number() OVER (
                       PARTITION BY eclass, shard
                       ORDER BY len DESC, doc_id) AS k
            FROM allin
        ),
        {_grouped_ffd_sql()},
        itpre AS MATERIALIZED (
            SELECT b.doc_id, b.len, b.eclass, b.doc_id % sc.s AS shard,
                   row_number() OVER (
                       PARTITION BY b.eclass, b.doc_id % sc.s
                       ORDER BY b.len DESC, b.doc_id) AS k
            FROM base b JOIN sc ON b.eclass = sc.eclass
        ),
        {_grouped_ffd_sql("pre")},
        rows_post AS (
            SELECT p.doc_id, p.eclass, p.shard, p.seq_uid,
                   p.off AS seq_offset, a.len AS n_tokens
            FROM placed p JOIN allin a ON p.doc_id = a.doc_id
        ),
        rows_pre AS (
            SELECT p.doc_id, p.eclass, p.shard, p.seq_uid,
                   p.off AS seq_offset, b.len AS n_tokens
            FROM placedpre p JOIN base b ON p.doc_id = b.doc_id
        ),
        mpre AS ({manifest.format(rows='rows_pre')}),
        mpost AS ({manifest.format(rows='rows_post')})
        SELECT COALESCE(mpre.eclass, mpost.eclass) AS eclass,
               COALESCE(mpre.shard, mpost.shard) AS shard,
               COALESCE(mpre.n_docs, 0) AS n_docs_pre,
               COALESCE(mpost.n_docs, 0) AS n_docs_post,
               COALESCE(mpre.h, -1) AS content_hash_pre,
               COALESCE(mpost.h, -1) AS content_hash_post,
               (COALESCE(mpre.h, -1) <> COALESCE(mpost.h, -1))
                   AS file_changed
        FROM mpre FULL OUTER JOIN mpost
            ON mpre.eclass = mpost.eclass AND mpre.shard = mpost.shard
    """


@query("q346_incremental_artifact_publish", oracle=None)  # oracle set below
def q346_incremental_artifact_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The q343 delta discipline carried through to the FILES: publish
    the pre-delta placement artifact and the q343-maintained one
    through the two-phase-commit jsonl writer (one shard-aligned file
    group each), then diff the per-(eclass, shard) manifests computed
    FROM THE RE-READ FILES — counts and order-independent content
    hashes on both sides, with ``file_changed`` stating which shard
    files an incremental publisher must actually re-ship. The
    headline property, visible in the result and pinned by a test:
    ``file_changed`` is EXACTLY the set of delta-touched shards —
    untouched shards' bytes on disk are identical before and after
    the delta, so a 100 TB artifact store re-publishes only
    |touched shards| files. Composes q343's parts and q344's
    sink-then-prove manifest discipline; the oracle runs BOTH packs
    (the suffix-parameterized grouped-FFD recursion) and states the
    same diff from the plan."""
    import os

    from databricks_etl_spark.sources.pydatasource import register
    from databricks_etl_spark.sources.writers import scratch_dir

    register(spark)
    parts = _q343_build(spark, sf_dir)
    pre = parts["corpus"].select(*_Q346_COLS)
    post = parts["kept"].select(*_Q346_COLS).unionByName(
        parts["repacked"].select(*_Q346_COLS)
    )
    back = {}
    for tag, df in (("pre", pre), ("post", post)):
        out = scratch_dir(f"artifact_{tag}_", key=sf_dir)
        (
            df.repartition(F.col("eclass"), F.col("shard"))
            .write.format("pyjsonl")
            .option("path", out)
            .mode("overwrite")
            .save()
        )
        back[tag] = spark.read.schema(
            ", ".join(f"{c} long" for c in _Q346_COLS)
        ).json(os.path.join(out, "part-*.jsonl"))
    payload = F.concat_ws("|", *_Q346_COLS)

    def manifest(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("eclass", "shard").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_docs_{tag}"),
            F.sum(_md5_mod_col(payload))
            .cast("long")
            .alias(f"content_hash_{tag}"),
        )

    m = manifest(back["pre"], "pre").join(
        manifest(back["post"], "post"), ["eclass", "shard"], "full_outer"
    )
    hp = F.coalesce("content_hash_pre", F.lit(-1)).cast("long")
    hq = F.coalesce("content_hash_post", F.lit(-1)).cast("long")
    return m.select(
        "eclass",
        "shard",
        F.coalesce("n_docs_pre", F.lit(0)).cast("long").alias("n_docs_pre"),
        F.coalesce("n_docs_post", F.lit(0)).cast("long").alias("n_docs_post"),
        hp.alias("content_hash_pre"),
        hq.alias("content_hash_post"),
        (hp != hq).alias("file_changed"),
    )


# oracle set at module end: _q346_oracle needs the _md5_mod helpers
# defined with q344 below


# ---------------------------------------------------------------------------
# q344 — materialized training artifact + per-shard manifest
# ---------------------------------------------------------------------------

_Q344_STEPS = 64  # steps (== sequences) per shard file: the "sized" unit
_Q344_MOD = 1_000_000_007  # per-row hash modulus (MINSTD prime): keeps the
# order-independent SUM of row hashes far below BIGINT overflow on both
# engines (DuckDB SUM(BIGINT) widens to HUGEINT, Spark would wrap)
_Q344_HEX = 12  # md5 hex chars decoded per row (48 bits, then mod)


def _md5_mod_sql(payload: str) -> str:
    """First {_Q344_HEX} md5 nibbles of ``payload`` decoded to a BIGINT
    (the q332 instr-nibble discipline widened to a row hash), mod
    {_Q344_MOD}. Twin of :func:`_md5_mod_col`."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({payload}), {k}, 1)) - 1)"
        f" * {16 ** (_Q344_HEX - k)}"
        for k in range(1, _Q344_HEX + 1)
    )
    return f"(({terms}) % {_Q344_MOD})"


def _md5_mod_col(payload) -> F.Column:
    """Spark twin of :func:`_md5_mod_sql`."""
    h = F.md5(payload)
    val = reduce(
        lambda a, b: a + b,
        [
            (
                F.instr(F.lit("0123456789abcdef"), F.substring(h, k, 1)) - 1
            ).cast("long")
            * F.lit(16 ** (_Q344_HEX - k)).cast("long")
            for k in range(1, _Q344_HEX + 1)
        ],
    )
    return val % _Q344_MOD


def _q344_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The physical training-artifact rows: q326's stream joined with
    each slot's packed token count and the step-sized shard id."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        q326_dataloader_order,
    )

    ordr = q326_dataloader_order(spark, sf_dir)
    lens = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(
            F.size(tokens_col("text")).cast("long"),
            F.lit(_Q326_B).cast("long"),
        ).alias("n_tokens"),
    )
    return ordr.join(lens, "doc_id").select(
        "epoch",
        "step",
        "seq_id",
        "doc_id",
        "seq_offset",
        "n_tokens",
        F.expr(f"step DIV {_Q344_STEPS}").cast("long").alias("shard_id"),
    )


def _q344_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import _Q326_B, _q326_oracle

    payload = (
        "CAST(epoch AS VARCHAR) || '|' || CAST(step AS VARCHAR) || '|' || "
        "CAST(seq_id AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR) || '|' || "
        "CAST(seq_offset AS VARCHAR) || '|' || CAST(n_tokens AS VARCHAR)"
    )
    return f"""
        WITH ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        art AS (
            SELECT o.epoch, o.step, o.seq_id, o.doc_id, o.seq_offset,
                   least({_Q291_TOKS}, {_Q326_B}) AS n_tokens,
                   o.step // {_Q344_STEPS} AS shard_id
            FROM ord o JOIN documents d ON o.doc_id = d.doc_id
        ),
        h AS (
            SELECT epoch, shard_id, seq_id, n_tokens,
                   {_md5_mod_sql(payload)} AS rh
            FROM art
        )
        SELECT epoch, CAST(shard_id AS BIGINT) AS shard_id,
               CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
               CAST(COUNT(*) AS BIGINT) AS n_doc_slots,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(rh) AS BIGINT) AS content_hash
        FROM h GROUP BY 1, 2
    """


@query("q344_training_artifact_manifest", oracle=None)  # oracle set below
def q344_training_artifact_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The training artifact made PHYSICAL, then proven: q326 returns a
    DataFrame, but a training run consumes FILES. The stream (with each
    slot's packed token count) is written through the two-phase-commit
    jsonl writer (``sources/pydatasource.JsonLinesDataSource``: task
    temps + driver rename + _SUCCESS — a failed job leaves the previous
    artifact untouched and NOTHING partial visible), sharded by
    step DIV {_Q344_STEPS} so every shard holds <= {_Q344_STEPS}
    sequences of one epoch. The registered result is the per-shard
    MANIFEST computed from the RE-READ files — n_seqs, doc slots,
    token count, and an order-independent content hash (sum of
    md5-nibble row hashes mod {_Q344_MOD}) — against an oracle that
    derives the same manifest from the PLAN. Hash-green therefore
    means the bytes on disk are exactly the planned stream: the
    q131/q336 sink-then-prove discipline for the artifact a trainer
    actually replays. One batch write, repartitioned by (epoch,
    shard_id) so transport files align with whole shards; no driver
    loop anywhere."""
    import os

    from databricks_etl_spark.sources.pydatasource import register
    from databricks_etl_spark.sources.writers import scratch_dir

    register(spark)
    art = _q344_artifact(spark, sf_dir)
    out = scratch_dir("train_artifact_", key=sf_dir)
    (
        art.repartition(F.col("epoch"), F.col("shard_id"))
        .write.format("pyjsonl")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = spark.read.schema(
        "epoch long, step long, seq_id long, doc_id long, "
        "seq_offset long, n_tokens long, shard_id long"
    ).json(os.path.join(out, "part-*.jsonl"))
    payload = F.concat_ws(
        "|", "epoch", "step", "seq_id", "doc_id", "seq_offset", "n_tokens"
    )
    return back.groupBy("epoch", "shard_id").agg(
        F.countDistinct("seq_id").cast("long").alias("n_seqs"),
        F.count(F.lit(1)).cast("long").alias("n_doc_slots"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(_md5_mod_col(payload)).cast("long").alias("content_hash"),
    )


QUERIES["q344_training_artifact_manifest"] = _replace(
    QUERIES["q344_training_artifact_manifest"], oracle=_q344_oracle()
)


# ---------------------------------------------------------------------------
# q345 — chunk packing re-based on subword lengths
# ---------------------------------------------------------------------------


def _q345_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import (
        _ffd_oracle,
        _q318_chunks_sql,
    )
    from databricks_etl_spark.plans.queries_round9 import (
        _Q340_CK,
        _subword_wc_sql,
    )

    items = f"""WITH RECURSIVE {_q318_chunks_sql()},
        ctok AS (
            SELECT doc_id, chunk_idx,
                   unnest(string_split(chunk_text, ' ')) AS w
            FROM chunks WHERE n_chunk_tokens >= 1
        ),
        vt AS (
            SELECT doc_id, chunk_idx, w FROM ctok WHERE length(w) >= 1
        ),
        words AS (SELECT DISTINCT w FROM vt),
        {_subword_wc_sql()},
        clen AS (
            SELECT doc_id, chunk_idx,
                   CAST(SUM(wc.pieces) AS BIGINT) AS len
            FROM vt JOIN wc USING (w) GROUP BY 1, 2
        )
        SELECT doc_id * {_Q340_CK} + chunk_idx AS doc_id, len FROM clen"""
    inner = _ffd_oracle(items)
    return f"""
        WITH packed AS MATERIALIZED (SELECT * FROM ({inner}))
        SELECT CAST(doc_id // {_Q340_CK} AS BIGINT) AS doc_id,
               CAST(doc_id % {_Q340_CK} AS BIGINT) AS chunk_idx,
               seq_id, seq_offset, n_tokens
        FROM packed
    """


@query("q345_chunk_subword_packing", oracle=_q345_oracle())
def q345_chunk_subword_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q340's embedding-batch plan RE-BASED on subword lengths: q328
    and q338 establish fertility > 1 (every word costs more than one
    subword piece), so batches sized on whitespace counts over-fill
    the embedding service's true token budget by the fertility ratio —
    exactly the under/over-fill q329 fixed for training sequences, now
    at chunk grain. Same ``ffd_pack`` operator and parameterized
    recursive-CTE oracle (the FOURTH length source through one
    placement logic); per-chunk subword counts reuse the
    fold-per-DISTINCT-word discipline (the chunk stream's vocabulary
    is the corpus vocabulary, so the fold cost is unchanged from
    q328), and the tokenizer recursion SQL is the exported q328 kernel
    so the rule cannot drift between grains. Chunk identity rides
    q340's documented doc_id * 1e6 + chunk_idx orderable key with
    exact DIV/% decode."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import chunk_tokens, subword_count
    from databricks_etl_spark.plans.queries_round8 import (
        _Q313_B,
        _Q313_P,
        _Q318_S,
        _Q318_W,
    )
    from databricks_etl_spark.plans.queries_round9 import _Q340_CK

    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_tokens(d, _Q318_W, _Q318_S).filter(
        F.col("n_chunk_tokens") >= 1
    )
    tok = chunks.select(
        "doc_id",
        "chunk_idx",
        F.explode(F.split("chunk_text", " ")).alias("w"),
    ).filter(F.length("w") >= 1)
    wc = (
        tok.select("w")
        .distinct()
        .select("w", subword_count(F.col("w")).alias("pieces"))
    )
    items = (
        tok.join(wc, "w")
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum("pieces").cast("long").alias("len"))
        .select(
            (F.col("doc_id") * _Q340_CK + F.col("chunk_idx")).alias("ck"),
            "len",
        )
    )
    packed = ffd_pack(items, _Q313_B, _Q313_P, id_col="ck")
    return packed.select(
        F.expr(f"doc_id DIV {_Q340_CK}").cast("long").alias("doc_id"),
        (F.col("doc_id") % _Q340_CK).cast("long").alias("chunk_idx"),
        "seq_id",
        "seq_offset",
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# q347 — epoch-shuffle decorrelation audit
# ---------------------------------------------------------------------------


def _q347_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _q326_oracle

    return f"""
        WITH ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        seqs AS (SELECT DISTINCT epoch, seq_id, step FROM ord),
        shared AS (
            SELECT a.epoch AS epoch_a, b.epoch AS epoch_b,
                   a.step AS x, b.step AS y
            FROM seqs a JOIN seqs b
                ON a.seq_id = b.seq_id AND a.epoch < b.epoch
        ),
        s AS (
            SELECT epoch_a, epoch_b,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(x AS DECIMAL(18,0))) AS sx,
                   SUM(CAST(y AS DECIMAL(18,0))) AS sy,
                   SUM(CAST(x AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS sxy,
                   SUM(CAST(x AS DECIMAL(18,0))
                       * CAST(x AS DECIMAL(18,0))) AS sx2,
                   SUM(CAST(y AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS sy2
            FROM shared GROUP BY 1, 2
        )
        SELECT epoch_a, epoch_b, n AS n_shared_seqs,
               round((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(n * CAST(sx2 AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(n * CAST(sy2 AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS step_correlation
        FROM s WHERE n >= 2
    """


@query("q347_epoch_shuffle_decorrelation", oracle=_q347_oracle())
def q347_epoch_shuffle_decorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the per-epoch reshuffle actually DECORRELATE replay order?
    q326 keys each epoch's permutation on an epoch-dependent MINSTD
    rehash precisely so no two epochs replay related orders (correlated
    epochs re-create the batch-composition biases epoch shuffling
    exists to break). The audit: for every epoch pair, the Pearson
    correlation of step positions over the sequences BOTH epochs
    schedule (steps are ranks, so this is rank correlation with gaps
    on the earlier epoch's side) — near 0 means independent orders;
    1.0 would mean the shuffle silently degenerated to a repeat.

    Scale shape: one distinct + one seq_id-keyed self-join + a
    5-moment aggregate per pair — NO windows, no re-ranking pass; the
    moment sums multiply and accumulate in DECIMAL(18,0)-derived exact
    decimals (order-free on both engines — the README decimal-sum rule
    applied to correlation, as q275's regression moments do; products
    stay exact for any step count below 1e18) and only the final
    closed-form division runs in double. Pair fan-out is
    epochs^2 <= 16 rows."""
    from databricks_etl_spark.plans.queries_round9 import q326_dataloader_order

    ordr = q326_dataloader_order(spark, sf_dir)
    # r16 OPT (guide §2.4): the moment kernel self-joins this relation,
    # so both sides re-ran the full q326 composition (itself composing
    # q312's gates) — one lazy materialization of the distinct
    # (epoch, seq_id, step) rows computes it once.
    return _epoch_step_corr(
        ordr.select("epoch", "seq_id", "step")
        .distinct()
        .localCheckpoint(eager=False)
    )


def _epoch_step_corr(seqs: DataFrame) -> DataFrame:
    """q347's moment kernel over a distinct (epoch, seq_id, step)
    relation — factored so q418's dataloader gate (queries_round11)
    aggregates the SAME correlation the audit lane reports; see
    q347's docstring for the exact-decimal-moment determinism
    argument."""
    a = seqs.select(
        F.col("epoch").alias("epoch_a"),
        "seq_id",
        F.col("step").alias("x"),
    )
    b = seqs.select(
        F.col("epoch").alias("epoch_b"),
        "seq_id",
        F.col("step").alias("y"),
    )
    shared = a.join(b, "seq_id").filter(F.col("epoch_a") < F.col("epoch_b"))
    d18 = lambda c: c.cast("decimal(18,0)")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    s = shared.groupBy("epoch_a", "epoch_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d18(x)).alias("sx"),
        F.sum(d18(y)).alias("sy"),
        F.sum(d18(x) * d18(y)).alias("sxy"),
        F.sum(d18(x) * d18(x)).alias("sx2"),
        F.sum(d18(y) * d18(y)).alias("sy2"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    return s.filter(n >= 2).select(
        "epoch_a",
        "epoch_b",
        n.alias("n_shared_seqs"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy)),
            6,
        ).alias("step_correlation"),
    )


QUERIES["q346_incremental_artifact_publish"] = _replace(
    QUERIES["q346_incremental_artifact_publish"], oracle=_q346_oracle()
)


# ---------------------------------------------------------------------------
# shared corpus-placement builders (q348 efficiency / q349 segments)
# ---------------------------------------------------------------------------


def _corpus_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(eclass, shard, seq_uid, doc_id, n_tokens) for the shipped
    corpus — q326's grouped-FFD packing WITHOUT the epoch/step
    expansion, for audits that care about the physical sequences
    rather than the replay stream. Mirrors q326's composition exactly
    (same ship gate, same epoch classes, same budget/shard constants)
    so audit rows describe the artifact the dataloader actually
    serves."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        q323_epoch_allocation,
    )
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        _Q326_P,
        _Q326_SEQNS,
    )

    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    ep = q323_epoch_allocation(spark, sf_dir).select("source", "epochs")
    d = read_table(spark, sf_dir, "documents")
    base = (
        d.join(ship, "doc_id")
        .join(F.broadcast(ep), "source")
        .select(
            "doc_id",
            F.size(tokens_col("text")).cast("long").alias("len"),
            F.col("epochs").cast("long").alias("eclass"),
        )
    )
    packed = ffd_pack(base, _Q326_B, _Q326_P, group_col="eclass")
    return packed.select(
        "eclass",
        F.expr(f"seq_id DIV {_Q326_SEQNS}").alias("shard"),
        (F.col("seq_id") * 8 + F.col("eclass")).alias("seq_uid"),
        "doc_id",
        "n_tokens",
    )


def _placed_len_sql() -> str:
    """The corpus-placement oracle chain: q326's WITH RECURSIVE prefix
    through ``placed``, extended with ``pj`` joining each placement
    back to its token length — the single SQL twin of
    ``_corpus_placement`` (q348/q349 both append their final rollup to
    this block so the audited relation cannot drift from q326's)."""
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        _Q326_P,
        _grouped_ffd_sql,
    )

    o312 = QUERIES["q312_training_manifest"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
    return f"""WITH RECURSIVE
        ship AS MATERIALIZED (SELECT doc_id FROM ({o312}) WHERE ship),
        ep AS MATERIALIZED (SELECT source, epochs FROM ({o323})),
        base AS MATERIALIZED (
            SELECT d.doc_id, least({_Q291_TOKS}, {_Q326_B}) AS len,
                   e.epochs AS eclass
            FROM documents d
            JOIN ship ON d.doc_id = ship.doc_id
            JOIN ep e ON d.source = e.source
        ),
        sc AS (
            SELECT eclass, CAST(ceil(COUNT(*) / {_Q326_P}.0) AS BIGINT) AS s
            FROM base GROUP BY 1
        ),
        it AS MATERIALIZED (
            SELECT b.doc_id, b.len, b.eclass, b.doc_id % sc.s AS shard,
                   row_number() OVER (
                       PARTITION BY b.eclass, b.doc_id % sc.s
                       ORDER BY b.len DESC, b.doc_id) AS k
            FROM base b JOIN sc ON b.eclass = sc.eclass
        ),
        {_grouped_ffd_sql()},
        pj AS (
            SELECT p.eclass, p.shard, p.seq_uid, p.doc_id, b.len
            FROM placed p JOIN base b ON p.doc_id = b.doc_id
        )"""


# ---------------------------------------------------------------------------
# q348 — packing-efficiency audit: FFD vs the ceil lower bound
# ---------------------------------------------------------------------------


def _q348_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    b = _Q326_B
    return f"""
        {_placed_len_sql()},
        g AS (
            SELECT eclass, shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT seq_uid) AS BIGINT) AS n_seqs,
                   CAST(SUM(len) AS BIGINT) AS sum_tokens
            FROM pj GROUP BY 1, 2
        )
        SELECT eclass, shard, n_docs, n_seqs, sum_tokens,
               CAST((sum_tokens + {b - 1}) // {b} AS BIGINT) AS lb_seqs,
               CAST(n_seqs - (sum_tokens + {b - 1}) // {b} AS BIGINT)
                   AS overhead_seqs,
               CAST(n_seqs * {b} - sum_tokens AS BIGINT) AS pad_tokens,
               round(CAST(sum_tokens AS DOUBLE) / (n_seqs * {b}), 6)
                   AS fill_frac
        FROM g
    """


@query("q348_packing_efficiency", oracle=_q348_oracle())
def q348_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the sharded FFD actually? Per (eclass, shard): the
    sequence count the pack produced vs the information-theoretic
    floor ceil(sum_tokens / budget) no packer can beat, the padding
    tokens a training run burns compute on, and the fill fraction.
    ``overhead_seqs`` is the price of SHARDED (parallel) FFD over the
    floor — measured instead of assumed; a test pins the first-fit
    guarantee (every bin but at most one ends more than half full, so
    n_seqs <= 2 * lb_seqs in every shard). At 100 TB this is the report
    that says whether re-sharding or a bigger budget is worth it: one
    groupBy on the placement keys, pure integer arithmetic (lower
    bound via (sum + B-1) DIV B — no float ceil), only the final
    fill fraction divides in double."""
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    b = _Q326_B
    g = (
        _corpus_placement(spark, sf_dir)
        .groupBy("eclass", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("seq_uid").cast("long").alias("n_seqs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )
    lb = F.expr(f"(sum_tokens + {b - 1}) DIV {b}")
    return g.select(
        "eclass",
        "shard",
        "n_docs",
        "n_seqs",
        "sum_tokens",
        lb.alias("lb_seqs"),
        (F.col("n_seqs") - lb).alias("overhead_seqs"),
        (F.col("n_seqs") * b - F.col("sum_tokens")).alias("pad_tokens"),
        F.round(F.col("sum_tokens").cast("double") / (F.col("n_seqs") * b), 6)
            .alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# q349 — attention-segment audit over packed sequences
# ---------------------------------------------------------------------------


def _q349_oracle() -> str:
    return f"""
        {_placed_len_sql()},
        seg AS (
            SELECT eclass, seq_uid,
                   CAST(COUNT(*) AS BIGINT) AS n_segments,
                   CAST(SUM(len) AS BIGINT) AS seq_tokens
            FROM pj GROUP BY 1, 2
        )
        SELECT eclass, n_segments,
               CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(seq_tokens) AS BIGINT) AS sum_tokens,
               CAST(COUNT(*) * (n_segments - 1) AS BIGINT) AS n_boundaries
        FROM seg GROUP BY 1, 2
    """


@query("q349_attention_segment_audit", oracle=_q349_oracle())
def q349_attention_segment_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Packed sequences hold multiple documents, and a training run
    must mask attention at every document boundary (block-diagonal
    attention) or tokens attend across unrelated docs. This audit
    sizes that workload from the placement itself: the histogram of
    segments-per-sequence per epoch class (how fragmented the
    sequences are — FFD with many short docs drives this up) and the
    total boundary count the masking kernel will process. A sequence
    with n_segments = 1 is a single clamped doc (no mask needed);
    the tail of the histogram is the packing-induced fragmentation
    that a min-segments packing policy would trade fill for.

    Scale shape: two chained groupBys on placement keys (seq grain
    then histogram grain) — no windows, no joins beyond the
    placement's own; all-integer output."""
    seg = (
        _corpus_placement(spark, sf_dir)
        .groupBy("eclass", "seq_uid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
        )
    )
    return seg.groupBy("eclass", "n_segments").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("seq_tokens").cast("long").alias("sum_tokens"),
        (F.count(F.lit(1)) * (F.col("n_segments") - 1))
            .cast("long")
            .alias("n_boundaries"),
    )


# ---------------------------------------------------------------------------
# q350 — quality-based dup-cluster retention report
# ---------------------------------------------------------------------------


def _q350_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05
    from databricks_etl_spark.plans.queries_round7 import _quality_sql
    from databricks_etl_spark.plans.queries_text import _TOKS

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        {_quality_sql()},
        tk AS (
            SELECT doc_id, source, len({_TOKS}) AS n_toks FROM documents
        ),
        rn AS (
            SELECT t.source, t.n_toks,
                   row_number() OVER (
                       PARTITION BY cc.component
                       ORDER BY q.quality_score DESC, t.doc_id) AS rn
            FROM tk t
            JOIN q ON t.doc_id = q.doc_id
            JOIN cc ON t.doc_id = cc.id
        ),
        cl AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_clustered,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_survivors,
                   CAST(SUM(CASE WHEN rn > 1 THEN n_toks ELSE 0 END)
                        AS BIGINT) AS tokens_dropped
            FROM rn GROUP BY 1
        ),
        tot AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS tokens_total
            FROM tk GROUP BY 1
        )
        SELECT t.source, t.n_docs, t.tokens_total,
               COALESCE(cl.n_clustered, 0) AS n_clustered,
               COALESCE(cl.n_survivors, 0) AS n_survivors,
               COALESCE(cl.n_clustered - cl.n_survivors, 0) AS n_dropped,
               COALESCE(cl.tokens_dropped, 0) AS tokens_dropped
        FROM tot t LEFT JOIN cl ON t.source = cl.source
    """


@query("q350_cluster_retention_report", oracle=_q350_oracle())
def q350_cluster_retention_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What quality-aware dedup RETENTION costs each source: q123's
    near-dup clusters (unigram-Jaccard >= 0.5 pairs closed under
    connectivity by distributed min-label propagation) resolved with
    q258's survivor priority — keep the HIGHEST-quality member of
    each cluster (tie -> min doc_id) instead of q124's min-doc_id
    canonical — then rolled up per source: docs clustered, survivors,
    docs dropped and the whitespace tokens those drops remove from
    the training pool. q124 answers "which rows remain"; this answers
    the budgeting question "what does the policy delete, from whom,
    and how many tokens" with the survivor rule a quality-curated
    corpus actually ships.

    The survivor window partitions by COMPONENT — dup clusters, whose
    size is bounded by true near-dup multiplicity, never by corpus
    size — so the rank is embarrassingly parallel at 100 TB; quality
    scores are exact multiples of 0.25 (four binary-exact signal
    quarters, `operators/text.quality_features`) so the cross-engine
    DESC ordering has no float-tie hazard, and the report itself is
    all-integer. Reference scope: dedup retention is §2.12 extension
    surface (the reference engine has no graph/cluster operator)."""
    from databricks_etl_spark.operators.text import quality_features
    from databricks_etl_spark.plans.queries_dedup import _neardup_components

    d = read_table(spark, sf_dir, "documents")
    qf = quality_features(d).select("doc_id", "n_tokens", "quality_score")
    base = d.select("doc_id", "source").join(qf, "doc_id")
    comps = _neardup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    cl = (
        base.join(comps, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clustered"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_survivors"),
            F.sum(F.when(F.col("rn") > 1, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_dropped"),
        )
    )
    tot = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
    )
    return tot.join(cl, "source", "left").select(
        "source",
        "n_docs",
        "tokens_total",
        F.coalesce("n_clustered", F.lit(0)).cast("long").alias("n_clustered"),
        F.coalesce("n_survivors", F.lit(0)).cast("long").alias("n_survivors"),
        F.coalesce(F.col("n_clustered") - F.col("n_survivors"), F.lit(0))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce("tokens_dropped", F.lit(0))
        .cast("long")
        .alias("tokens_dropped"),
    )


# ---------------------------------------------------------------------------
# q351 — checkpoint-resume accounting over the dataloader stream
# ---------------------------------------------------------------------------

_Q351_K = 32  # steps per checkpoint window


def _q351_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import _Q326_B, _q326_oracle

    return f"""
        WITH st AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        dl AS (
            SELECT doc_id, least({_Q291_TOKS}, {_Q326_B}) AS len
            FROM documents
        ),
        j AS (
            SELECT s.epoch, (s.step - 1) // {_Q351_K} AS ckpt_id,
                   s.step, l.len
            FROM st s JOIN dl l ON s.doc_id = l.doc_id
        ),
        g AS (
            SELECT epoch, CAST(ckpt_id AS BIGINT) AS ckpt_id,
                   CAST(MIN(step) AS BIGINT) AS from_step,
                   CAST(MAX(step) AS BIGINT) AS to_step,
                   CAST(COUNT(DISTINCT step) AS BIGINT) AS n_steps,
                   CAST(COUNT(*) AS BIGINT) AS n_doc_slots,
                   CAST(SUM(len) AS BIGINT) AS n_tokens
            FROM j GROUP BY 1, 2
        )
        SELECT epoch, ckpt_id, from_step, to_step, n_steps, n_doc_slots,
               n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY epoch ORDER BY ckpt_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM g
    """


@query("q351_checkpoint_resume_accounting", oracle=_q351_oracle())
def q351_checkpoint_resume_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The checkpoint ledger a resumable training run reads: q326's
    (epoch, step) stream sliced into {_Q351_K}-step checkpoint
    windows, each window sized in steps, doc slots and tokens, with
    ``tokens_before`` = tokens consumed by all earlier windows of the
    epoch — so "resume from checkpoint c" maps to an exact skip count
    and the worst-case replay after a crash is the one in-flight
    window's n_tokens. Because q326's order is deterministic, the
    ledger IS the resume contract: a restarted loader seeks to
    from_step and provably replays nothing it already trained on.

    Scale shape: one doc_id-keyed join of the stream to per-doc
    clamped lengths (the packer's own least(len, B) convention), one
    groupBy on (epoch, ckpt window), and a running sum over the
    POST-AGGREGATION relation (epochs x windows rows — thousands at
    100 TB, not data-sized; the per-epoch window partition is
    bounded). Composes the registered q326 so ledger and stream
    cannot drift."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        q326_dataloader_order,
    )

    st = q326_dataloader_order(spark, sf_dir)
    dl = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(F.size(tokens_col("text")).cast("long"), F.lit(_Q326_B))
        .cast("long")
        .alias("len"),
    )
    g = (
        st.join(dl, "doc_id")
        .withColumn("ckpt_id", F.expr(f"(step - 1) DIV {_Q351_K}"))
        .groupBy("epoch", "ckpt_id")
        .agg(
            F.min("step").cast("long").alias("from_step"),
            F.max("step").cast("long").alias("to_step"),
            F.countDistinct("step").cast("long").alias("n_steps"),
            F.count(F.lit(1)).cast("long").alias("n_doc_slots"),
            F.sum("len").cast("long").alias("n_tokens"),
        )
    )
    wpre = (
        Window.partitionBy("epoch")
        .orderBy("ckpt_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return g.select(
        "epoch",
        F.col("ckpt_id").cast("long").alias("ckpt_id"),
        "from_step",
        "to_step",
        "n_steps",
        "n_doc_slots",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(wpre), F.lit(0))
        .cast("long")
        .alias("tokens_before"),
    )


# ---------------------------------------------------------------------------
# q352 — PQ candidate-depth re-rank sweep
# ---------------------------------------------------------------------------

_Q352_DEPTHS = (10, 25, 50, 100, 200)  # PQ candidate pool sizes swept


def _q352_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import _q316_chain
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    sim_exact = (
        f"round({_dot_sql('q.__qe', 'c.embedding')}"
        f" / (sqrt({_dot_sql('q.__qe', 'q.__qe')})"
        f" * sqrt({_dot_sql('c.embedding', 'c.embedding')})), 6)"
    )
    sim_pq = (
        f"round({_dot_sql('q.__qe', 'r.rv')}"
        f" / (sqrt({_dot_sql('q.__qe', 'q.__qe')})"
        f" * sqrt({_dot_sql('r.rv', 'r.rv')})), 6)"
    )
    depths = ", ".join(str(m) for m in _Q352_DEPTHS)
    return f"""
        WITH {_q316_chain()},
        q AS (SELECT vec_id AS qid, embedding AS __qe
              FROM embeddings WHERE vec_id < 20),
        se AS (
            SELECT q.qid, c.vec_id AS nid, {sim_exact} AS sim
            FROM q JOIN embeddings c ON q.qid <> c.vec_id
        ),
        sa AS (
            SELECT q.qid, r.vec_id AS nid, {sim_pq} AS sim
            FROM q JOIN rec r ON q.qid <> r.vec_id
        ),
        truth AS (
            SELECT qid, nid, rk FROM (
                SELECT qid, nid, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, nid) AS rk
                FROM se
            ) WHERE rk <= 10
        ),
        parnk AS (
            SELECT qid, nid, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, nid) AS pqrk
            FROM sa
        ),
        t AS (
            SELECT tr.qid, tr.rk, p.pqrk
            FROM truth tr JOIN parnk p
              ON tr.qid = p.qid AND tr.nid = p.nid
        ),
        dep AS (SELECT CAST(unnest([{depths}]) AS INTEGER) AS depth),
        per AS (
            SELECT dep.depth, t.qid,
                   CAST(round(SUM(CASE WHEN t.pqrk <= dep.depth
                                       THEN 1 ELSE 0 END) / 10.0, 6)
                        AS DECIMAL(18,9)) AS recall10,
                   CAST(MAX(CASE WHEN t.rk = 1 AND t.pqrk <= dep.depth
                                 THEN 1.0 ELSE 0.0 END)
                        AS DECIMAL(18,9)) AS top1
            FROM t JOIN dep ON TRUE
            GROUP BY 1, 2
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(recall10) AS DOUBLE) / COUNT(*), 6)
                   AS mean_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS top1_recall
        FROM per GROUP BY 1
    """


@query("q352_pq_rerank_sweep", oracle=_q352_oracle())
def q352_pq_rerank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-candidate-depth CURVE for PQ-then-exact-re-rank
    retrieval — q341's sweep discipline applied to q317's compressed
    index. A PQ deployment fetches the top-m candidates by asymmetric
    (exact-query x reconstructed-corpus) distance, then re-ranks that
    pool with exact similarity; the tunable is m. Under exact
    re-ranking, a truth-top-10 item is retrieved iff its PQ rank is
    <= m (among any candidate subset the true top-10 outrank
    everything else by exact sim), so ONE scored pass — exact rank
    and PQ rank per (query, neighbor) — covers the whole sweep as a
    bounded rollup of the 10-per-query truth rows, the same
    no-re-retrieval argument as q341's probe sweep. Monotone in m by
    construction (tested), and the m=10 point is q317's
    pq_recall_at_10 re-ranked (re-rank cannot help at m=k: the pool
    IS the answer).

    Scale shape: the PQ scoring side reads 8 bytes/vector
    (reconstructed from broadcast codebooks) against a broadcast
    20-query set — map-side only; truth here is the same audited
    brute-force EVAL as q310/q317 (documented as such), and the sweep
    adds an O(queries x k x depths) explode. Reference scope: ANN
    tuning is §2.12 extension surface."""
    from databricks_etl_spark.operators.similarity import (
        norm,
        paired_cosine,
        pq_assign,
        pq_reconstruct,
    )
    from databricks_etl_spark.plans.queries_round8 import (
        _Q316_CB,
        _Q316_K,
        _Q316_M,
        _Q316_SUB,
    )

    e = read_table(spark, sf_dir, "embeddings")
    cb = spark.createDataFrame(
        [
            (m, k, _Q316_CB[m][k])
            for m in range(_Q316_M)
            for k in range(_Q316_K)
        ],
        "m int, k int, cw array<double>",
    )
    rec = pq_reconstruct(pq_assign(e, cb, _Q316_M, _Q316_SUB))
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("__qe"),
        norm(F.col("embedding")).alias("__qn"),
    )
    se = (
        e.select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("__ce"),
            norm(F.col("embedding")).alias("__cn"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                paired_cosine(
                    F.col("__qe"), F.col("__ce"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("sim"),
        )
    )
    sa = (
        rec.select(
            F.col("vec_id").alias("nid"),
            F.col("reconstructed").alias("__rv"),
            norm(F.col("reconstructed")).alias("__rn"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                paired_cosine(
                    F.col("__qe"), F.col("__rv"), F.col("__qn"), F.col("__rn")
                ),
                6,
            ).alias("sim"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    truth = (
        se.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 10)
        .select("qid", "nid", "rk")
    )
    parnk = sa.withColumn("pqrk", F.row_number().over(wq)).select(
        "qid", "nid", "pqrk"
    )
    t = truth.join(parnk, ["qid", "nid"]).withColumn(
        "depth",
        F.explode(F.array(*[F.lit(m) for m in _Q352_DEPTHS])),
    )
    per = t.groupBy("depth", "qid").agg(
        F.round(
            F.sum(F.when(F.col("pqrk") <= F.col("depth"), 1).otherwise(0))
            / 10.0,
            6,
        )
        .cast("decimal(18,9)")
        .alias("recall10"),
        F.max(
            F.when(
                (F.col("rk") == 1) & (F.col("pqrk") <= F.col("depth")),
                F.lit(1.0),
            ).otherwise(F.lit(0.0))
        )
        .cast("decimal(18,9)")
        .alias("top1"),
    )
    n = F.count(F.lit(1))
    return per.groupBy("depth").agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("recall10").cast("double") / n, 6).alias(
            "mean_recall_at_10"
        ),
        F.round(F.sum("top1").cast("double") / n, 6).alias("top1_recall"),
    )


# ---------------------------------------------------------------------------
# q353 — cross-source duplication-flow matrix
# ---------------------------------------------------------------------------


def _q353_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        src AS (SELECT doc_id, source FROM documents),
        lab AS (
            SELECT least(sa.source, sb.source) AS source_a,
                   greatest(sa.source, sb.source) AS source_b,
                   p.id_a, p.id_b
            FROM pr p
            JOIN src sa ON p.id_a = sa.doc_id
            JOIN src sb ON p.id_b = sb.doc_id
        ),
        docs AS (
            -- DISTINCT over UNION ALL, not bare UNION: DuckDB 1.0's
            -- recursive-CTE inlining re-evaluates lab per branch and
            -- bare UNION then fails to dedup across the two scans
            -- (left a duplicate row; sibling of the CLAUDE.md
            -- AS MATERIALIZED gotcha)
            SELECT DISTINCT source_a, source_b, doc_id FROM (
                SELECT source_a, source_b, id_a AS doc_id FROM lab
                UNION ALL
                SELECT source_a, source_b, id_b FROM lab
            )
        ),
        dc AS (
            SELECT source_a, source_b,
                   CAST(COUNT(*) AS BIGINT) AS n_docs_involved
            FROM docs GROUP BY 1, 2
        )
        SELECT l.source_a, l.source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               l.source_a <> l.source_b AS cross_source,
               MIN(dc.n_docs_involved) AS n_docs_involved
        FROM lab l JOIN dc
          ON l.source_a = dc.source_a AND l.source_b = dc.source_b
        GROUP BY 1, 2
    """


@query("q353_dup_flow_matrix", oracle=_q353_oracle())
def q353_dup_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO duplicates WHOM: q123's near-dup pair relation (unigram
    Jaccard >= 0.5, df-capped index) rolled up into a source x source
    matrix — pair counts on normalized (least, greatest) source keys
    so the matrix is upper-triangular-symmetric, within-source
    duplication on the diagonal, plus the distinct docs each cell
    touches. q333 measures cross-CHUNK containment and q337 split
    leakage; this is the provenance view a data-sourcing decision
    reads ("crawl B is 80% re-crawl of A — drop it"). At 100 TB the
    rollup rides the pair relation's own bounded output (true
    collisions only, df-capped): one source-labeling join per side
    against a slim (doc_id, source) projection, then a grouped
    count — no new shuffle wider than the pair list itself."""
    from databricks_etl_spark.operators.dedup import jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, 0.5, ngram=1, max_df=100)
    src = d.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "id_a",
            "id_b",
        )
        # labeled pairs feed BOTH the pair-count and the distinct-doc
        # branches; materialize the bounded (true-collision-sized)
        # relation once instead of re-running the whole similarity
        # join per consumer (plan audit: 51 -> ~27 exchanges)
        .localCheckpoint(eager=False)
    )
    docs = lab.select("source_a", "source_b", F.col("id_a").alias("doc_id")).union(
        lab.select("source_a", "source_b", F.col("id_b").alias("doc_id"))
    ).distinct()
    dc = docs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_involved")
    )
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .join(dc, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") != F.col("source_b")).alias("cross_source"),
            "n_docs_involved",
        )
    )


# ---------------------------------------------------------------------------
# q354 — within-epoch curriculum-flatness audit
# ---------------------------------------------------------------------------


def _q354_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _quality_sql
    from databricks_etl_spark.plans.queries_round9 import _q326_oracle

    return f"""
        WITH st AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        {_quality_sql()},
        ns AS (SELECT epoch, MAX(step) AS n_steps FROM st GROUP BY 1),
        slot AS (
            SELECT s.epoch,
                   ((s.step - 1) * 4) // ns.n_steps AS quartile,
                   CAST(q.quality_score AS DECIMAL(18,2)) AS qs
            FROM st s
            JOIN q ON s.doc_id = q.doc_id
            JOIN ns ON s.epoch = ns.epoch
        ),
        g AS (
            SELECT epoch, CAST(quartile AS BIGINT) AS quartile,
                   CAST(COUNT(*) AS BIGINT) AS n_doc_slots,
                   SUM(qs) AS qsum
            FROM slot GROUP BY 1, 2
        ),
        e AS (
            SELECT epoch, quartile, n_doc_slots, qsum,
                   SUM(qsum) OVER (PARTITION BY epoch) AS esum,
                   SUM(n_doc_slots) OVER (PARTITION BY epoch) AS ecnt
            FROM g
        )
        SELECT epoch, quartile, n_doc_slots,
               round(CAST(qsum AS DOUBLE) / n_doc_slots, 6)
                   AS mean_quality,
               round(CAST(esum AS DOUBLE) / ecnt, 6)
                   AS epoch_mean_quality,
               round(CAST(qsum AS DOUBLE) / n_doc_slots
                     - CAST(esum AS DOUBLE) / ecnt, 6) AS deviation
        FROM e
    """


@query("q354_curriculum_flatness", oracle=_q354_oracle())
def q354_curriculum_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the epoch shuffle deliver a FLAT quality profile over the
    course of each epoch? An unintended quality trend across training
    steps is an accidental curriculum — late-epoch gradients see
    systematically different data, the exact bias q326's MINSTD
    reshuffle exists to prevent (q347 checks order correlation
    BETWEEN epochs; this checks composition drift WITHIN one). The
    audit: per (epoch, step quartile), the mean quality score of doc
    slots consumed, against the epoch-wide mean, with the signed
    deviation — flat means deviations near zero in every quartile.

    Determinism: quality scores are exact quarters, summed in
    DECIMAL(18,2) (order-free on both engines), only the final means
    divide in double. Scale shape: one doc_id-keyed join of the
    stream to quality scores, a broadcast (epoch -> n_steps) relation
    for the quartile split, one groupBy to 4 x epochs rows, and the
    epoch rollup as a window over THAT post-aggregation relation —
    nothing epoch-partitioned ever exceeds 4 rows."""
    from databricks_etl_spark.operators.text import quality_features
    from databricks_etl_spark.plans.queries_round9 import q326_dataloader_order

    st = q326_dataloader_order(spark, sf_dir)
    qf = quality_features(read_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("quality_score").cast("decimal(18,2)").alias("qs")
    )
    ns = st.groupBy("epoch").agg(F.max("step").alias("n_steps"))
    g = (
        st.join(qf, "doc_id")
        .join(F.broadcast(ns), "epoch")
        .withColumn("quartile", F.expr("((step - 1) * 4) DIV n_steps"))
        .groupBy("epoch", "quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_doc_slots"),
            F.sum("qs").alias("qsum"),
        )
    )
    we = Window.partitionBy("epoch")
    e = g.select(
        "epoch",
        F.col("quartile").cast("long").alias("quartile"),
        "n_doc_slots",
        "qsum",
        F.sum("qsum").over(we).alias("esum"),
        F.sum("n_doc_slots").over(we).alias("ecnt"),
    )
    mq = F.col("qsum").cast("double") / F.col("n_doc_slots")
    em = F.col("esum").cast("double") / F.col("ecnt")
    return e.select(
        "epoch",
        "quartile",
        "n_doc_slots",
        F.round(mq, 6).alias("mean_quality"),
        F.round(em, 6).alias("epoch_mean_quality"),
        F.round(mq - em, 6).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# q355 — verbatim-repetition spectrum (memorization-risk histogram)
# ---------------------------------------------------------------------------

_Q355_W = 5  # shingle width in whitespace tokens


def _q355_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    shingle = " || ' ' || ".join(f"toks[i+{k}]" for k in range(_Q355_W))
    return f"""
        WITH tok AS (
            SELECT doc_id, source, {_TOKS} AS toks FROM documents
        ),
        sg AS (
            SELECT source,
                   md5(unnest(list_transform(
                       range(1, len(toks) - {_Q355_W - 2}),
                       i -> {shingle}))) AS h
            FROM tok
        ),
        g AS (
            SELECT h, source, CAST(COUNT(*) AS BIGINT) AS c
            FROM sg GROUP BY 1, 2
        ),
        m AS (SELECT h, SUM(c) AS mult FROM g GROUP BY 1),
        j AS (
            SELECT g.source, g.c,
                   CASE WHEN m.mult = 1 THEN 'unique'
                        WHEN m.mult = 2 THEN 'dup'
                        WHEN m.mult < 10 THEN 'multi'
                        ELSE 'heavy' END AS bucket
            FROM g JOIN m ON g.h = m.h
        )
        SELECT source, bucket,
               CAST(SUM(c) AS BIGINT) AS n_occurrences,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_shingles
        FROM j GROUP BY 1, 2
    """


@query("q355_repetition_spectrum", oracle=_q355_oracle())
def q355_repetition_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much VERBATIM repetition does each source carry after the
    pipeline's fuzzy dedup lanes run at doc/chunk grain? Repeated
    {_Q355_W}-token shingles are what a model memorizes (and what
    extraction attacks recover) — near-dup dedup removes whole
    documents, but boilerplate headers, license blocks and templated
    spans repeat across NON-duplicate docs and only show up at this
    grain. Per (source, multiplicity bucket): shingle occurrences
    whose corpus-wide multiplicity is 1 / 2 / 3-9 / 10+, plus the
    distinct (shingle, source) combinations behind them. A healthy
    source is dominated by 'unique'; a fat 'heavy' bucket is the
    memorization-risk flag that routes the source to q291's exact-
    substring lane.

    Scale shape: shingles key to md5 (fixed 32-byte keys, never raw
    text) and the plan is two chained aggregations on that key — the
    (h, source) count, then the corpus multiplicity — with the
    join-back co-partitioned on h from the first groupBy; output is
    sources x 4 buckets. No windows, no all-pairs, occurrence counts
    (not strings) are all that survives the first exchange."""
    d = read_table(spark, sf_dir, "documents")
    return _q355_spectrum_rollup(_q355_shingle_counts(d))


def _q355_shingle_counts(docs: DataFrame) -> DataFrame:
    """(h, source, c): md5-keyed {_Q355_W}-token shingle occurrence
    counts — the associative partial the streaming lane (q361)
    accumulates per micro-batch."""
    from databricks_etl_spark.operators.text import shingle_array, tokens_col

    sg = docs.select(
        "source",
        F.explode(shingle_array(tokens_col("text"), _Q355_W)).alias("s"),
    ).select("source", F.md5(F.col("s")).alias("h"))
    return sg.groupBy("h", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def _q355_spectrum_rollup(g: DataFrame) -> DataFrame:
    """The multiplicity bucketing + per-source rollup over an
    (h, source, c) relation — SHARED by batch q355 and the streaming
    drain q361 so the spectrum rule cannot drift between paths."""
    m = g.groupBy("h").agg(F.sum("c").alias("mult"))
    j = g.join(m, "h").select(
        "source",
        "c",
        F.when(F.col("mult") == 1, "unique")
        .when(F.col("mult") == 2, "dup")
        .when(F.col("mult") < 10, "multi")
        .otherwise("heavy")
        .alias("bucket"),
    )
    return j.groupBy("source", "bucket").agg(
        F.sum("c").cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_shingles"),
    )


# ---------------------------------------------------------------------------
# q356 — length-bucket batching waste vs the FFD pack
# ---------------------------------------------------------------------------

_Q356_CAPS = (8, 16, 32, 64, 128, 256)  # pow-2 pad caps; last == _Q326_B


def _q356_bucket_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} <= {c} THEN {c}" for c in _Q356_CAPS[:-1]
    )
    return f"CASE {branches} ELSE {_Q356_CAPS[-1]} END"


def _q356_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    return f"""
        {_placed_len_sql()},
        ffd AS (
            SELECT CAST(COUNT(DISTINCT seq_uid) * {_Q326_B} - SUM(len)
                        AS BIGINT) AS ffd_pad_total
            FROM pj
        ),
        b AS (
            SELECT {_q356_bucket_sql("len")} AS bucket_cap, len FROM pj
        ),
        g AS (
            SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len) AS BIGINT) AS sum_tokens,
                   CAST(SUM(bucket_cap - len) AS BIGINT) AS pad_tokens
            FROM b GROUP BY 1
        )
        SELECT bucket_cap, n_docs, sum_tokens, pad_tokens,
               round(CAST(sum_tokens AS DOUBLE)
                     / (sum_tokens + pad_tokens), 6) AS fill_frac,
               ffd.ffd_pad_total
        FROM g, ffd
    """


@query("q356_bucket_batching_waste", oracle=_q356_oracle())
def q356_bucket_batching_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What would the SIMPLE batching strategy cost? Fine-tuning
    pipelines commonly skip packing and pad each doc to a power-of-2
    length bucket; this audit prices that against the FFD pack on the
    SAME shipped-doc multiset (q348's placement base): per bucket cap,
    the docs, real tokens, pad tokens and fill fraction — with the
    FFD pack's total pad as a reference column on every row (bounded
    1-row broadcast, the registered-composition discipline), so the
    report reads directly as 'bucketed batching burns Nx the compute
    padding that packing does'. Pure integer arithmetic; the cap is a
    6-branch CASE, no float log2."""
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    pl = _corpus_placement(spark, sf_dir)
    ffd = pl.agg(
        (
            F.countDistinct("seq_uid") * _Q326_B - F.sum("n_tokens")
        )
        .cast("long")
        .alias("ffd_pad_total")
    )
    cap = F.expr(_q356_bucket_sql("n_tokens"))
    g = (
        pl.select(cap.cast("long").alias("bucket_cap"), "n_tokens")
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum(F.col("bucket_cap") - F.col("n_tokens"))
            .cast("long")
            .alias("pad_tokens"),
        )
    )
    return g.crossJoin(F.broadcast(ffd)).select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        "pad_tokens",
        F.round(
            F.col("sum_tokens").cast("double")
            / (F.col("sum_tokens") + F.col("pad_tokens")),
            6,
        ).alias("fill_frac"),
        "ffd_pad_total",
    )


# ---------------------------------------------------------------------------
# q357 — deterministic stratified eval sample (two-phase top-k)
# ---------------------------------------------------------------------------

_Q357_N = 20  # docs sampled per source
_Q357_SALT = ":eval-v1"  # version the sample by salt, not by code


def _q357_oracle() -> str:
    return f"""
        WITH k AS (
            SELECT source, doc_id,
                   md5(CAST(doc_id AS VARCHAR) || '{_Q357_SALT}') AS ky
            FROM documents
        )
        SELECT source, doc_id, CAST(smp_rank AS BIGINT) AS smp_rank
        FROM (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source ORDER BY ky, doc_id) AS smp_rank
            FROM k
        ) WHERE smp_rank <= {_Q357_N}
    """


@query("q357_stratified_eval_sample", oracle=_q357_oracle())
def q357_stratified_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deterministic, PORTABLE stratified sample: exactly
    min({_Q357_N}, available) docs per source, selected by salted-md5
    rank — the eval-set construction a data pipeline re-derives
    identically on any engine, any run (re-sampling is a SALT bump,
    never a code change; q234's portability discipline applied to
    quota sampling rather than split hashing).

    The per-source top-k is TWO-PHASE so no task ever ranks a whole
    source: phase 1 takes the top {_Q357_N} within each (source,
    first-hex-nibble-of-key) sub-bucket — 16-way parallel per source,
    window bounded by a 1/16 slice; phase 2 re-ranks only the
    <= 16 x {_Q357_N} per-source survivors. Any global top-{_Q357_N}
    row is top-{_Q357_N} in its own sub-bucket, so the composition is
    EXACTLY the single-window semantics the oracle states — same
    decomposition argument as q326's bucketed dense rank. At 100 TB a
    source is arbitrarily large; phase 1's window partitions stay
    1/16th of one source and phase 2's input is constant-sized."""
    d = read_table(spark, sf_dir, "documents")
    k = d.select(
        "source",
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(_Q357_SALT))
        ).alias("ky"),
    )
    w1 = Window.partitionBy("source", F.substring("ky", 1, 1)).orderBy(
        "ky", "doc_id"
    )
    cand = (
        k.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _Q357_N)
        .drop("rn1")
    )
    w2 = Window.partitionBy("source").orderBy("ky", "doc_id")
    return (
        cand.withColumn("smp_rank", F.row_number().over(w2))
        .filter(F.col("smp_rank") <= _Q357_N)
        .select(
            "source", "doc_id", F.col("smp_rank").cast("long").alias("smp_rank")
        )
    )


# ---------------------------------------------------------------------------
# q358 — shard prefetch-locality audit over the dataloader stream
# ---------------------------------------------------------------------------


def _q358_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_SEQNS,
        _q326_oracle,
    )

    return f"""
        WITH st AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        seqs AS (
            SELECT DISTINCT epoch, step, seq_id,
                   seq_id % 8 AS eclass,
                   (seq_id // 8) // {_Q326_SEQNS} AS shard
            FROM st
        ),
        ns AS (SELECT epoch, MAX(step) AS n_steps FROM seqs GROUP BY 1),
        gaps AS (
            SELECT epoch, eclass, shard, step,
                   step - lag(step) OVER (
                       PARTITION BY epoch, eclass, shard ORDER BY step
                   ) AS gap
            FROM seqs
        ),
        g AS (
            SELECT epoch, CAST(eclass AS BIGINT) AS eclass,
                   CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_seqs,
                   CAST(MIN(step) AS BIGINT) AS min_step,
                   CAST(MAX(step) AS BIGINT) AS max_step,
                   CAST(MAX(gap) AS BIGINT) AS max_gap
            FROM gaps GROUP BY 1, 2, 3
        )
        SELECT g.epoch, g.eclass, g.shard, g.n_seqs, g.min_step,
               g.max_step, g.max_gap,
               round(CAST(g.max_step - g.min_step AS DOUBLE)
                     / (g.n_seqs - 1), 6) AS mean_gap,
               round(CAST(g.max_step - g.min_step + 1 AS DOUBLE)
                     / ns.n_steps, 6) AS span_frac
        FROM g JOIN ns ON g.epoch = ns.epoch
        WHERE g.n_seqs >= 2
    """


@query("q358_shard_prefetch_locality", oracle=_q358_oracle())
def q358_shard_prefetch_locality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Can a dataloader worker prefetch a shard file once, or does the
    epoch shuffle scatter the shard's sequences across the whole
    epoch? The serving-side dual of q347: per (epoch, eclass, shard) —
    the physical file key q344 publishes — the step positions at
    which the shard's sequences are consumed: min/max step, the
    largest gap between consecutive hits, the mean gap (closed form
    (max-min)/(n-1), no per-row division), and ``span_frac`` = the
    shard's serving window over the epoch length. A good shuffle
    DESTROYS locality — span_frac near 1.0 is the design working, and
    the audit turns "so every shard must stay resident all epoch"
    into a measured I/O-planning fact (resident shards x shard size =
    the prefetch cache a serving node needs).

    Scale shape: one DISTINCT on the stream, shard decoded from
    seq_id by pure integer arithmetic (the documented low-3-bits
    eclass layout), a lag window partitioned by (epoch, eclass,
    shard) — bounded by bins-per-shard, never data-sized — and a
    broadcast (epoch -> n_steps) join."""
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_SEQNS,
        q326_dataloader_order,
    )

    seqs = (
        q326_dataloader_order(spark, sf_dir)
        .select("epoch", "step", "seq_id")
        .distinct()
        .select(
            "epoch",
            "step",
            (F.col("seq_id") % 8).cast("long").alias("eclass"),
            F.expr(f"(seq_id DIV 8) DIV {_Q326_SEQNS}")
            .cast("long")
            .alias("shard"),
        )
    )
    ns = seqs.groupBy("epoch").agg(F.max("step").alias("n_steps"))
    wlag = Window.partitionBy("epoch", "eclass", "shard").orderBy("step")
    g = (
        seqs.withColumn("gap", F.col("step") - F.lag("step").over(wlag))
        .groupBy("epoch", "eclass", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.min("step").cast("long").alias("min_step"),
            F.max("step").cast("long").alias("max_step"),
            F.max("gap").cast("long").alias("max_gap"),
        )
        .filter(F.col("n_seqs") >= 2)
    )
    return g.join(F.broadcast(ns), "epoch").select(
        "epoch",
        "eclass",
        "shard",
        "n_seqs",
        "min_step",
        "max_step",
        "max_gap",
        F.round(
            (F.col("max_step") - F.col("min_step")).cast("double")
            / (F.col("n_seqs") - 1),
            6,
        ).alias("mean_gap"),
        F.round(
            (F.col("max_step") - F.col("min_step") + 1).cast("double")
            / F.col("n_steps"),
            6,
        ).alias("span_frac"),
    )


# ---------------------------------------------------------------------------
# q359 — SimHash hamming-radius calibration
# ---------------------------------------------------------------------------

_Q359_RADII = tuple(range(0, 11))  # hamming thresholds swept
_Q359_SALT = ":negpairs"  # salt for the deterministic control pairs


def _q359_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import (
        _PAIRS_05,
        _simhash_md5_sql,
    )

    radii = ", ".join(str(r) for r in _Q359_RADII)
    return f"""
        WITH RECURSIVE {_PAIRS_05},
        sig AS MATERIALIZED ({_simhash_md5_sql()}),
        ky AS (
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || '{_Q359_SALT}') AS k
            FROM documents
        ),
        rnk AS (
            SELECT doc_id, substr(k, 1, 1) AS bk,
                   row_number() OVER (
                       PARTITION BY substr(k, 1, 1) ORDER BY k, doc_id
                   ) AS rn
            FROM ky
        ),
        rawneg AS (
            SELECT least(a.doc_id, b.doc_id) AS id_a,
                   greatest(a.doc_id, b.doc_id) AS id_b
            FROM rnk a JOIN rnk b ON a.bk = b.bk AND b.rn = a.rn + 1
            WHERE a.rn % 2 = 1
        ),
        neg AS (
            SELECT id_a, id_b FROM rawneg n
            WHERE NOT EXISTS (
                SELECT 1 FROM pr
                WHERE pr.id_a = n.id_a AND pr.id_b = n.id_b
            )
        ),
        pairs AS (
            SELECT id_a, id_b, TRUE AS is_near_dup FROM pr
            UNION ALL
            SELECT id_a, id_b, FALSE FROM neg
        ),
        ham AS (
            SELECT p.is_near_dup,
                   bit_count(xor(sa.sig_hi, sb.sig_hi))
                   + bit_count(xor(sa.sig_lo, sb.sig_lo)) AS h
            FROM pairs p
            JOIN sig sa ON p.id_a = sa.doc_id
            JOIN sig sb ON p.id_b = sb.doc_id
        ),
        rad AS (SELECT CAST(unnest([{radii}]) AS INTEGER) AS radius)
        SELECT rad.radius,
               CAST(SUM(CASE WHEN is_near_dup THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_pairs,
               CAST(SUM(CASE WHEN is_near_dup AND h <= rad.radius
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true_within,
               round(SUM(CASE WHEN is_near_dup AND h <= rad.radius
                              THEN 1 ELSE 0 END)
                     / CAST(SUM(CASE WHEN is_near_dup THEN 1 ELSE 0 END)
                            AS DOUBLE), 6) AS true_recall,
               CAST(SUM(CASE WHEN NOT is_near_dup THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rand_pairs,
               CAST(SUM(CASE WHEN NOT is_near_dup AND h <= rad.radius
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rand_within,
               round(SUM(CASE WHEN NOT is_near_dup AND h <= rad.radius
                              THEN 1 ELSE 0 END)
                     / CAST(SUM(CASE WHEN NOT is_near_dup THEN 1 ELSE 0 END)
                            AS DOUBLE), 6) AS rand_within_rate
        FROM ham JOIN rad ON TRUE
        GROUP BY 1
    """


@query("q359_simhash_radius_calibration", oracle=_q359_oracle())
def q359_simhash_radius_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHERE should the SimHash hamming threshold sit? For each radius
    r in 0..{_Q359_RADII[-1]}: the fraction of TRUE near-dup pairs
    (the exact-Jaccard >= 0.5 relation, q123's pair set) whose 64-bit
    md5-SimHash signatures (q163's cross-engine construction) fall
    within hamming distance r — the recall curve — against the same
    rate over a deterministic CONTROL of salted-md5-matched random
    pairs (consecutive docs in 16 key-bucket rankings, true pairs
    anti-joined out) — the false-positive curve. The q341/q352 sweep
    discipline applied to threshold calibration: pick the radius
    where true_recall is high and rand_within_rate still ~0; q302's
    fixed <= 3 cut for image hashes gets its text-side evidence.

    Scale shape: both pair relations are bounded (true collisions;
    n/2 control pairs), the signature join is doc_id-keyed, the sweep
    is a conditional rollup of one hamming column over an 11-radius
    explode; control-pair ranking windows partition 16 ways on a key
    nibble, never globally."""
    from databricks_etl_spark.operators.dedup import jaccard_pairs
    from databricks_etl_spark.plans.queries_dedup import (
        q163_simhash_md5_oracled,
    )

    d = read_table(spark, sf_dir, "documents")
    sig = q163_simhash_md5_oracled(spark, sf_dir)
    true_pairs = jaccard_pairs(d, 0.5, ngram=1, max_df=100).select(
        "id_a", "id_b", F.lit(True).alias("is_near_dup")
    )
    ky = d.select(
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(_Q359_SALT))
        ).alias("k"),
    )
    wb = Window.partitionBy(F.substring("k", 1, 1)).orderBy("k", "doc_id")
    rnk = ky.select(
        "doc_id", F.substring("k", 1, 1).alias("bk"), F.row_number().over(wb).alias("rn")
    )
    a = rnk.select(
        F.col("doc_id").alias("xa"), "bk", F.col("rn").alias("ra")
    ).filter(F.col("ra") % 2 == 1)
    b = rnk.select(F.col("doc_id").alias("xb"), "bk", F.col("rn").alias("rb"))
    rawneg = a.join(
        b, (a.bk == b.bk) & (F.col("rb") == F.col("ra") + 1)
    ).select(
        F.least("xa", "xb").alias("id_a"),
        F.greatest("xa", "xb").alias("id_b"),
    )
    neg = rawneg.join(
        true_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).select("id_a", "id_b", F.lit(False).alias("is_near_dup"))
    pairs = true_pairs.unionAll(neg)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("sig_hi").alias("ha"),
        F.col("sig_lo").alias("la"),
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("sig_hi").alias("hb"),
        F.col("sig_lo").alias("lb"),
    )
    ham = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "is_near_dup",
            (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
            ).alias("h"),
        )
    )
    r = ham.withColumn(
        "radius", F.explode(F.array(*[F.lit(x) for x in _Q359_RADII]))
    )
    t = F.col("is_near_dup")
    within = F.col("h") <= F.col("radius")
    n_true = F.sum(F.when(t, 1).otherwise(0))
    n_true_w = F.sum(F.when(t & within, 1).otherwise(0))
    n_rand = F.sum(F.when(~t, 1).otherwise(0))
    n_rand_w = F.sum(F.when(~t & within, 1).otherwise(0))
    return r.groupBy("radius").agg(
        n_true.cast("long").alias("n_true_pairs"),
        n_true_w.cast("long").alias("n_true_within"),
        F.round(n_true_w / n_true.cast("double"), 6).alias("true_recall"),
        n_rand.cast("long").alias("n_rand_pairs"),
        n_rand_w.cast("long").alias("n_rand_within"),
        F.round(n_rand_w / n_rand.cast("double"), 6).alias(
            "rand_within_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q360 — tokenizer vocabulary-ablation sweep
# ---------------------------------------------------------------------------

# (level label, use v4 block, use v3 block, use v2 block) — nested
# prefixes of the full vocabulary, 'none' = pure char fallback
_Q360_LEVELS: tuple[tuple[str, bool, bool, bool], ...] = (
    ("none", False, False, False),
    ("2gram", False, False, True),
    ("2+3gram", False, True, True),
    ("full", True, True, True),
)


def _q360_wc_sql(sfx: str, use4: bool, use3: bool, use2: bool) -> str:
    """q328's ``_subword_wc_sql`` recursion with the vocabulary blocks
    ablated per level and CTE names suffixed so four recursions
    coexist in one WITH RECURSIVE chain (same consumption rule —
    cite: plans/queries_round9.py::_subword_wc_sql)."""
    from databricks_etl_spark.operators.text import (
        SUBWORD_VOCAB_2,
        SUBWORD_VOCAB_3,
        SUBWORD_VOCAB_4,
    )

    branches = []
    for width, use, vocab in (
        (4, use4, SUBWORD_VOCAB_4),
        (3, use3, SUBWORD_VOCAB_3),
        (2, use2, SUBWORD_VOCAB_2),
    ):
        if use:
            lits = ", ".join(f"'{p}'" for p in vocab)
            branches.append(
                f"WHEN substr(w, pos, {width}) IN ({lits}) THEN {width}"
            )
    step = f"CASE {' '.join(branches)} ELSE 1 END" if branches else "1"
    unk = f"CASE WHEN ({step}) = 1 THEN 1 ELSE 0 END"
    return f"""tk{sfx} AS (
            SELECT w, 1 AS pos, 0 AS cnt, 0 AS unk FROM words
            UNION ALL
            SELECT w, pos + {step}, cnt + 1, unk + {unk}
            FROM tk{sfx} WHERE pos <= length(w)
        ),
        wc{sfx} AS (
            SELECT w, MAX(cnt) AS pieces, MAX(unk) AS unk
            FROM tk{sfx} GROUP BY 1
        )"""


def _q360_oracle() -> str:
    chains = ",\n        ".join(
        _q360_wc_sql(str(i), u4, u3, u2)
        for i, (_, u4, u3, u2) in enumerate(_Q360_LEVELS)
    )
    unions = "\n            UNION ALL\n".join(
        f"""            SELECT '{lvl}' AS level, ws.source,
                   ws.c, ws.c * wc{i}.pieces AS p, ws.c * wc{i}.unk AS u
            FROM ws JOIN wc{i} ON ws.w = wc{i}.w"""
        for i, (lvl, _, _, _) in enumerate(_Q360_LEVELS)
    )
    return f"""
        WITH RECURSIVE
        tok AS (
            SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ),
        ws AS MATERIALIZED (
            SELECT w, source, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok WHERE length(w) >= 1 GROUP BY 1, 2
        ),
        words AS MATERIALIZED (SELECT DISTINCT w FROM ws),
        {chains},
        lv AS (
{unions}
        )
        SELECT level, source,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(SUM(p) AS BIGINT) AS n_pieces,
               CAST(SUM(u) AS BIGINT) AS n_fallback,
               round(CAST(SUM(p) AS DOUBLE) / SUM(c), 6) AS fertility,
               round(CAST(SUM(u) AS DOUBLE) / SUM(p), 6) AS fallback_rate
        FROM lv GROUP BY 1, 2
    """


@query("q360_vocab_ablation_sweep", oracle=_q360_oracle())
def q360_vocab_ablation_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each vocabulary block BUY? The q341 sweep discipline
    applied to the subword tokenizer: re-run q328's greedy
    longest-match consumption under nested vocabulary prefixes —
    char-fallback only, 2-gram block, 2+3-gram, full — and report per
    (level, source) the fertility (pieces per word) and fallback rate
    the corpus would see. This is the measurement behind a vocab-size
    decision (the compression each additional block adds, per
    source); q338 reports the FULL vocab's coverage, this is its
    ablation curve. 'none' is the exact upper bound (every char a
    fallback piece, fertility = chars/word, fallback_rate 1.0 — both
    pinned by test); 'full' reproduces q328's totals (cross-checked
    by test against the registered query).

    Scale shape: the per-(word, source) occurrence relation is
    aggregated ONCE; each ablation level folds over the DISTINCT word
    list only (the q328 sublinear-vocabulary property times a
    4-level constant), and the rollup is a join back on the word key.
    No UDFs — the fold is the same whole-stage-codegen ``aggregate``
    expression, parameterized by vocab blocks."""
    from databricks_etl_spark.operators.text import (
        SUBWORD_VOCAB_2,
        SUBWORD_VOCAB_3,
        SUBWORD_VOCAB_4,
        subword_piece_stats,
        tokens_col,
    )

    d = read_table(spark, sf_dir, "documents")
    ws = (
        d.select("source", F.explode(tokens_col("text")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    words = ws.select("w").distinct()
    levels = []
    for lvl, u4, u3, u2 in _Q360_LEVELS:
        st = subword_piece_stats(
            F.col("w"),
            v4=SUBWORD_VOCAB_4 if u4 else (),
            v3=SUBWORD_VOCAB_3 if u3 else (),
            v2=SUBWORD_VOCAB_2 if u2 else (),
        )
        wc = words.select(
            "w",
            st.getField("cnt").cast("long").alias("pieces"),
            st.getField("unk").cast("long").alias("unk"),
        )
        levels.append(
            ws.join(wc, "w").select(
                F.lit(lvl).alias("level"),
                "source",
                "c",
                (F.col("c") * F.col("pieces")).alias("p"),
                (F.col("c") * F.col("unk")).alias("u"),
            )
        )
    lv = reduce(lambda a, b: a.unionAll(b), levels)
    return lv.groupBy("level", "source").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum("p").cast("long").alias("n_pieces"),
        F.sum("u").cast("long").alias("n_fallback"),
        F.round(F.sum("p").cast("double") / F.sum("c"), 6).alias("fertility"),
        F.round(F.sum("u").cast("double") / F.sum("p"), 6).alias(
            "fallback_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q361 — streaming repetition spectrum (ingest-time ≡ batch q355)
# ---------------------------------------------------------------------------


@query("q361_streaming_repetition_spectrum", oracle=_q355_oracle())
def q361_streaming_repetition_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The q355 memorization-risk spectrum maintained AT INGEST — the
    round's streaming lane, and a stronger discipline than q336's:
    repetition is corpus-GLOBAL (a shingle's multiplicity sums over
    every batch ever ingested), so the stream lands each micro-batch's
    ASSOCIATIVE (shingle-hash, source, count) partial in an
    epoch-idempotent sink — the sink IS the cross-batch state, bounded
    by distinct keys, no in-memory state store — and the drain
    re-aggregates before the SHARED spectrum rollup
    (``streaming/repetition.py``). Counting is associative, so the
    drain is slicing-invariant and registers with q355's OWN oracle
    SQL: the streaming path itself is driver-hash-checked."""
    from databricks_etl_spark.streaming.repetition import (
        run_streaming_repetition_spectrum,
    )

    return run_streaming_repetition_spectrum(spark, sf_dir)


# ---------------------------------------------------------------------------
# q362 — full ANN serving stack: IVF probe → PQ rank → exact re-rank
# ---------------------------------------------------------------------------

_Q362_P = 2  # cells probed
_Q362_M = 50  # PQ candidates re-ranked


def _q362_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_D2,
    )
    from databricks_etl_spark.plans.queries_round8 import _q316_chain
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    vals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    qd2 = _Q285_D2.replace("embedding", "__qe")
    sim_exact = (
        f"round({_dot_sql('q.__qe', 'c.embedding')}"
        f" / (sqrt({_dot_sql('q.__qe', 'q.__qe')})"
        f" * sqrt({_dot_sql('c.embedding', 'c.embedding')})), 6)"
    )
    sim_pq = (
        f"round({_dot_sql('q.__qe', 'r.rv')}"
        f" / (sqrt({_dot_sql('q.__qe', 'q.__qe')})"
        f" * sqrt({_dot_sql('r.rv', 'r.rv')})), 6)"
    )
    return f"""
        WITH {_q316_chain()},
        cents(cid, cvec) AS (VALUES {vals}),
        asg AS (
            SELECT vec_id, CAST(cid AS INT) AS cell_id FROM (
                SELECT vec_id, cid,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY {_Q285_D2.replace('c[i]', 'cvec[i]')}, cid
                       ) AS rn
                FROM embeddings, cents
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS qid, embedding AS __qe
              FROM embeddings WHERE vec_id < 20),
        probed AS (
            SELECT qid, CAST(cid AS INT) AS cell_id FROM (
                SELECT q.qid, cents.cid,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY {qd2.replace('c[i]', 'cvec[i]')}, cid
                       ) AS rn
                FROM q, cents
            ) WHERE rn <= {_Q362_P}
        ),
        se AS (
            SELECT q.qid, c.vec_id AS nid, a.cell_id, {sim_exact} AS sim
            FROM q
            JOIN embeddings c ON q.qid <> c.vec_id
            JOIN asg a ON c.vec_id = a.vec_id
        ),
        sp AS (
            SELECT q.qid, r.vec_id AS nid, {sim_pq} AS sim
            FROM q JOIN rec r ON q.qid <> r.vec_id
        ),
        truth AS (
            SELECT qid, nid, rk, cell_id FROM (
                SELECT qid, nid, cell_id, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, nid) AS rk
                FROM se
            ) WHERE rk <= 10
        ),
        pool AS (
            SELECT qid, nid FROM (
                SELECT se.qid, se.nid, row_number() OVER (
                    PARTITION BY se.qid ORDER BY sp.sim DESC, sp.nid
                ) AS pqrk
                FROM se
                JOIN probed p ON se.qid = p.qid AND se.cell_id = p.cell_id
                JOIN sp ON se.qid = sp.qid AND se.nid = sp.nid
            ) WHERE pqrk <= {_Q362_M}
        ),
        per AS (
            SELECT t.qid,
                   CAST(round(SUM(CASE WHEN pr.qid IS NOT NULL
                                       THEN 1 ELSE 0 END) / 10.0, 6)
                        AS DECIMAL(18,9)) AS cellr,
                   CAST(round(SUM(CASE WHEN pl.qid IS NOT NULL
                                       THEN 1 ELSE 0 END) / 10.0, 6)
                        AS DECIMAL(18,9)) AS stackr,
                   CAST(MAX(CASE WHEN t.rk = 1 AND pl.qid IS NOT NULL
                                 THEN 1.0 ELSE 0.0 END)
                        AS DECIMAL(18,9)) AS top1
            FROM truth t
            LEFT JOIN probed pr
              ON t.qid = pr.qid AND t.cell_id = pr.cell_id
            LEFT JOIN pool pl ON t.qid = pl.qid AND t.nid = pl.nid
            GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(cellr) AS DOUBLE) / COUNT(*), 6)
                   AS cell_recall_at_10,
               round(CAST(SUM(stackr) AS DOUBLE) / COUNT(*), 6)
                   AS stack_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS stack_top1_recall
        FROM per
    """


@query("q362_ann_stack_eval", oracle=_q362_oracle())
def q362_ann_stack_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION retrieval stack evaluated end to end, with the
    loss attributed by stage: IVF coarse probe (q285's comb quantizer,
    n_probe={_Q362_P}) restricts the corpus, PQ asymmetric distance
    (q316's 8-byte codes) ranks the probed candidates, the top
    {_Q362_M} re-rank by exact similarity. ``cell_recall_at_10`` is
    the ceiling the probe alone allows; ``stack_recall_at_10`` is what
    survives PQ truncation on top — the gap is PQ's fault, not the
    probe's, which is exactly the attribution an index-tuning decision
    needs (q341 sweeps the probe axis, q352 the re-rank axis; this
    composes the stages the way a serving system actually chains
    them). Exact re-rank means a truth item in the pool always
    surfaces (the q352 argument), so stack <= cell by construction
    (tested), and both metrics sit against the same brute-force truth
    as q310/q317.

    Scale shape: centroids and the 20-query set broadcast; PQ codes
    reconstruct from 8 bytes/vector; the only corpus-sized relations
    are the two scored passes (truth is an audited EVAL, documented as
    such); every window partitions by query id."""
    from databricks_etl_spark.operators.similarity import (
        assign_cells,
        norm,
        paired_cosine,
        pq_assign,
        pq_reconstruct,
    )
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS
    from databricks_etl_spark.plans.queries_round8 import (
        _Q316_CB,
        _Q316_K,
        _Q316_M,
        _Q316_SUB,
    )

    e = read_table(spark, sf_dir, "embeddings")
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    cells = assign_cells(e, cents).localCheckpoint(eager=False)
    cb = spark.createDataFrame(
        [
            (m, k, _Q316_CB[m][k])
            for m in range(_Q316_M)
            for k in range(_Q316_K)
        ],
        "m int, k int, cw array<double>",
    )
    rec = pq_reconstruct(pq_assign(e, cb, _Q316_M, _Q316_SUB))
    qv = cells.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("__qe")
    )
    qd2 = F.aggregate(
        F.zip_with(
            F.col("__qe"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wq = Window.partitionBy("qid").orderBy(qd2.asc(), F.col("cid").asc())
    probed = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _Q362_P)
        .select("qid", F.col("cid").alias("cell_id"))
    )
    base = cells.join(rec, "vec_id").select(
        F.col("vec_id").alias("nid"),
        "cell_id",
        "embedding",
        "reconstructed",
    )
    s = (
        base.withColumn("__cn", norm(F.col("embedding")))
        .withColumn("__rn", norm(F.col("reconstructed")))
        .crossJoin(F.broadcast(qv.withColumn("__qn", norm(F.col("__qe")))))
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "cell_id",
            F.round(
                paired_cosine(
                    F.col("__qe"),
                    F.col("embedding"),
                    F.col("__qn"),
                    F.col("__cn"),
                ),
                6,
            ).alias("sim"),
            F.round(
                paired_cosine(
                    F.col("__qe"),
                    F.col("reconstructed"),
                    F.col("__qn"),
                    F.col("__rn"),
                ),
                6,
            ).alias("psim"),
        )
        .localCheckpoint(eager=False)  # one scored pass feeds truth, probe and pool
    )
    wt = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    truth = (
        s.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= 10)
        .select("qid", "nid", "rk", "cell_id")
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("psim"), F.asc("nid"))
    pool = (
        s.join(
            F.broadcast(
                probed.select(
                    F.col("qid").alias("__pq"),
                    F.col("cell_id").alias("__pc"),
                )
            ),
            (F.col("qid") == F.col("__pq")) & (F.col("cell_id") == F.col("__pc")),
        )
        .select(s.qid, s.nid, "psim")
        .withColumn("pqrk", F.row_number().over(wp))
        .filter(F.col("pqrk") <= _Q362_M)
        .select(F.col("qid").alias("__lq"), F.col("nid").alias("__ln"))
    )
    pr = probed.select(
        F.col("qid").alias("__rq"), F.col("cell_id").alias("__rc")
    )
    per = (
        truth.join(
            pr,
            (F.col("qid") == F.col("__rq")) & (F.col("cell_id") == F.col("__rc")),
            "left",
        )
        .join(
            pool,
            (F.col("qid") == F.col("__lq")) & (F.col("nid") == F.col("__ln")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.round(
                F.sum(F.when(F.col("__rq").isNotNull(), 1).otherwise(0)) / 10.0,
                6,
            )
            .cast("decimal(18,9)")
            .alias("cellr"),
            F.round(
                F.sum(F.when(F.col("__lq").isNotNull(), 1).otherwise(0)) / 10.0,
                6,
            )
            .cast("decimal(18,9)")
            .alias("stackr"),
            F.max(
                F.when(
                    (F.col("rk") == 1) & F.col("__lq").isNotNull(), 1.0
                ).otherwise(0.0)
            )
            .cast("decimal(18,9)")
            .alias("top1"),
        )
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("cellr").cast("double") / n, 6).alias(
            "cell_recall_at_10"
        ),
        F.round(F.sum("stackr").cast("double") / n, 6).alias(
            "stack_recall_at_10"
        ),
        F.round(F.sum("top1").cast("double") / n, 6).alias(
            "stack_top1_recall"
        ),
    )


# ---------------------------------------------------------------------------
# q363 — incremental dup-flow maintenance (frozen posting index)
# ---------------------------------------------------------------------------

_Q363_B = 20_000_000_000  # delta re-identification offset
_Q363_DF = 100  # posting-list cap, FROZEN at corpus state
_Q363_T = 0.5  # Jaccard threshold (q353's)


def _q363_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    return f"""
        WITH i0 AS (
            SELECT doc_id, unnest(list_distinct({_TOKS})) AS item
            FROM documents
        ),
        keep AS (
            SELECT item FROM i0 GROUP BY item
            HAVING COUNT(*) <= {_Q363_DF}
        ),
        i AS (SELECT i0.doc_id, i0.item FROM i0 JOIN keep USING (item)),
        szc AS (SELECT doc_id, COUNT(*) AS n FROM i GROUP BY 1),
        corpus_vocab AS (SELECT DISTINCT item FROM i0),
        delta AS (
            SELECT doc_id + {_Q363_B} AS delta_id, source,
                   CASE WHEN doc_id % 14 = 3 THEN text
                        ELSE array_to_string(list_transform({_TOKS},
                            t -> substr(md5(t), 1, 8)), ' ')
                   END AS text
            FROM documents WHERE doc_id % 7 = 3
        ),
        di0 AS (
            SELECT delta_id, source,
                   unnest(list_distinct({_TOKS})) AS item
            FROM delta
        ),
        di AS (
            -- frozen-index admission: corpus-kept items probe the
            -- persisted postings; items the corpus has NEVER seen are
            -- admitted (new vocabulary); corpus-capped hub items stay
            -- dropped — the index is not re-built
            SELECT d.delta_id, d.source, d.item
            FROM di0 d
            LEFT JOIN corpus_vocab cv ON d.item = cv.item
            LEFT JOIN keep k ON d.item = k.item
            WHERE cv.item IS NULL OR k.item IS NOT NULL
        ),
        szd AS (SELECT delta_id, COUNT(*) AS n FROM di GROUP BY 1),
        sh AS (
            SELECT di.delta_id, di.source AS delta_source,
                   i.doc_id AS corpus_id, COUNT(*) AS shared
            FROM di JOIN i ON di.item = i.item
            GROUP BY 1, 2, 3
        ),
        pr AS (
            SELECT sh.delta_id, sh.delta_source, sh.corpus_id
            FROM sh
            JOIN szd ON sh.delta_id = szd.delta_id
            JOIN szc ON sh.corpus_id = szc.doc_id
            WHERE CAST(sh.shared AS DOUBLE)
                  / (szd.n + szc.n - sh.shared) >= {_Q363_T}
        ),
        lab AS (
            SELECT p.delta_source, d.source AS corpus_source,
                   p.delta_id, p.corpus_id
            FROM pr p JOIN documents d ON p.corpus_id = d.doc_id
        )
        SELECT delta_source, corpus_source,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT delta_id) AS BIGINT) AS n_delta_docs,
               CAST(COUNT(DISTINCT corpus_id) AS BIGINT) AS n_corpus_docs
        FROM lab GROUP BY 1, 2
    """


@query("q363_incremental_dup_flow", oracle=_q363_oracle())
def q363_incremental_dup_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q353's provenance matrix kept FRESH as a crawl batch lands,
    at delta cost: a batch of new documents (every doc_id % 7 == 3,
    re-identified; half verbatim re-crawls, half vocabulary-rewritten
    novel text) probes the PERSISTED unigram posting index — the
    corpus is never re-tokenized, re-capped, or self-joined. The index
    freeze is the honest production semantics (q327's discipline):
    corpus-capped hub items stay dropped, corpus-unseen items are
    admitted as new vocabulary, and the matrix this emits is the
    directional (delta_source -> corpus_source) flow of the incoming
    batch — who the new crawl copied from — with the delta x delta
    class deferred to the next index rebuild (documented, as q327
    defers survivor re-scoring to q335).

    Scale shape: every corpus-sized relation is the persisted index
    (postings + per-doc set sizes); all NEW work is delta-sized or
    delta x posting-bounded (the frozen cap bounds every item's
    posting list at {_Q363_DF}). One item-keyed join, one grouped
    count, no windows."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens_col("text"))
    i0 = d.select("doc_id", F.explode(toks).alias("item"))
    keep = (
        i0.groupBy("item")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _Q363_DF)
        .select("item")
    )
    i = i0.join(keep, "item").localCheckpoint(eager=False)  # the persisted index
    szc = i.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nc"))
    corpus_vocab = i0.select("item").distinct()

    rewritten = F.array_join(
        F.transform(
            tokens_col("text"), lambda t: F.substring(F.md5(t), 1, 8)
        ),
        " ",
    )
    delta = d.filter(F.col("doc_id") % 7 == 3).select(
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
            corpus_vocab.withColumn("__seen", F.lit(True)), "item", "left"
        )
        .join(keep.withColumn("__kept", F.lit(True)), "item", "left")
        .filter(F.col("__seen").isNull() | F.col("__kept").isNotNull())
        .select("delta_id", "source", "item")
    )
    szd = di.groupBy("delta_id").agg(F.count(F.lit(1)).alias("nd"))
    sh = (
        di.join(i, "item")
        .groupBy(
            "delta_id", F.col("source").alias("delta_source"),
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
    lab = pr.join(
        d.select(F.col("doc_id").alias("corpus_id"),
                 F.col("source").alias("corpus_source")),
        "corpus_id",
    )
    return lab.groupBy("delta_source", "corpus_source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("delta_id").cast("long").alias("n_delta_docs"),
        F.countDistinct("corpus_id").cast("long").alias("n_corpus_docs"),
    )


# ---------------------------------------------------------------------------
# q364 — eval-sample n-gram novelty vs the training remainder
# ---------------------------------------------------------------------------


def _q364_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    o357 = QUERIES["q357_stratified_eval_sample"].oracle
    shingle = " || ' ' || ".join(f"toks[i+{k}]" for k in range(_Q355_W))
    return f"""
        WITH smp AS MATERIALIZED (
            SELECT source, doc_id FROM ({o357})
        ),
        tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        esh AS (
            SELECT s.source, s.doc_id,
                   md5(unnest(list_transform(
                       range(1, len(toks) - {_Q355_W - 2}),
                       i -> {shingle}))) AS h
            FROM smp s JOIN tok ON s.doc_id = tok.doc_id
        ),
        train_vocab AS (
            SELECT DISTINCT md5(unnest(list_transform(
                       range(1, len(toks) - {_Q355_W - 2}),
                       i -> {shingle}))) AS h
            FROM tok t
            WHERE NOT EXISTS (
                SELECT 1 FROM smp WHERE smp.doc_id = t.doc_id
            )
        ),
        probe AS (
            SELECT e.source, e.doc_id, e.h,
                   tv.h IS NOT NULL AS seen
            FROM esh e LEFT JOIN train_vocab tv ON e.h = tv.h
        )
        SELECT source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_eval_docs,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_seen,
               round(SUM(CASE WHEN seen THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS overlap_rate,
               round(1.0 - SUM(CASE WHEN seen THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        FROM probe GROUP BY 1
    """


@query("q364_eval_ngram_novelty", oracle=_q364_oracle())
def q364_eval_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the eval sample actually NOVEL relative to what the model
    trains on? The graded train/eval overlap metric: every
    {_Q355_W}-token shingle of q357's registered eval sample is probed
    against the distinct shingle vocabulary of the TRAINING REMAINDER
    (corpus minus the sample — the honest denominator; probing against
    a corpus that still contains the eval docs reports overlap 1.0 by
    construction). Per source: eval docs with >= 1 shingle, shingle
    occurrences, how many the train side has seen, and the
    overlap/novelty rates. q319/q337 DETECT contamination pairs; this
    grades the eval set's residual n-gram overlap after those lanes
    run — the number an eval-integrity review quotes.

    Scale shape: the train vocabulary is one distinct-aggregate on the
    md5 shingle key (the q355 shuffle); the probe side is QUOTA-sized
    (sources x {_Q357_N} docs), so the join is a bounded probe against
    the big side, never corpus x corpus. Composes two registered
    queries (q357's sample, q355's shingle construction) so the
    audited relation cannot drift."""
    from databricks_etl_spark.operators.text import shingle_array, tokens_col

    d = read_table(spark, sf_dir, "documents")
    smp = q357_stratified_eval_sample(spark, sf_dir).select(
        "source", "doc_id"
    )
    sh = lambda df: df.select(  # noqa: E731
        df["doc_id"],
        F.explode(shingle_array(tokens_col("text"), _Q355_W)).alias("s"),
    ).select(df["doc_id"], F.md5(F.col("s")).alias("h"))

    esh = smp.join(d.select("doc_id", "text"), "doc_id").select(
        "source",
        "doc_id",
        F.explode(shingle_array(tokens_col("text"), _Q355_W)).alias("s"),
    ).select("source", "doc_id", F.md5(F.col("s")).alias("h"))
    train = d.join(smp.select("doc_id"), "doc_id", "left_anti")
    train_vocab = sh(train).select("h").distinct()
    probe = esh.join(
        train_vocab.withColumn("__seen", F.lit(True)), "h", "left"
    )
    seen = F.sum(F.when(F.col("__seen").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return probe.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_eval_docs"),
        n.cast("long").alias("n_shingles"),
        seen.cast("long").alias("n_seen"),
        F.round(seen / n.cast("double"), 6).alias("overlap_rate"),
        F.round(F.lit(1.0) - seen / n.cast("double"), 6).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# q365 — dup-cluster edge-density audit (LSH-chaining detector)
# ---------------------------------------------------------------------------


def _q365_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        csz AS (
            SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM cc GROUP BY 1
        ),
        ed AS (
            SELECT cc.component, CAST(COUNT(*) AS BIGINT) AS n_edges
            FROM pr JOIN cc ON pr.id_a = cc.id
            GROUP BY 1
        ),
        cl AS (
            SELECT csz.component, csz.n_members, ed.n_edges,
                   CAST(round(CAST(ed.n_edges AS DOUBLE)
                       / (csz.n_members * (csz.n_members - 1) / 2.0), 6)
                       AS DECIMAL(18,6)) AS density
            FROM csz JOIN ed ON csz.component = ed.component
        ),
        b AS (
            SELECT CASE WHEN n_members = 2 THEN '2'
                        WHEN n_members <= 4 THEN '3-4'
                        WHEN n_members <= 9 THEN '5-9'
                        ELSE '10+' END AS size_bucket,
                   n_members, n_edges, density
            FROM cl
        )
        SELECT size_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(n_members) AS BIGINT) AS n_docs,
               CAST(SUM(n_edges) AS BIGINT) AS n_edges,
               round(CAST(SUM(density) AS DOUBLE) / COUNT(*), 6)
                   AS mean_density,
               MIN(density) + 0.0 AS min_density
        FROM b GROUP BY 1
    """


@query("q365_cluster_density_audit", oracle=_q365_oracle())
def q365_cluster_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are the dup clusters REAL duplicate groups or chaining
    artifacts? Connectivity closure (q123) merges a~b, b~c into one
    cluster even when a̸~c — correct for retention, but a LARGE
    cluster held together by a thin chain of pairwise hits deletes
    docs that never resembled each other. The audit: per cluster, the
    edge density (observed >= -threshold pairs over member-choose-2)
    rolled up by cluster-size bucket — density 1.0 means every member
    pair really collides (a true duplicate clique); a fat low-density
    tail in '10+' is the chaining signal that argues for a higher
    threshold or a verify pass on the pair rung. Pair (2-member)
    clusters are density 1.0 by construction, which the test pins.

    Scale shape: edges attribute to their cluster by ONE id-keyed
    join (both endpoints share the component by construction — no
    per-pair double lookup), cluster sizes are a groupBy on the
    label relation, per-cluster densities round@6 then decimal-sum
    into bucket means (the README discipline). Everything after the
    pair relation is cluster-count-sized."""
    from databricks_etl_spark.operators.dedup import jaccard_pairs
    from databricks_etl_spark.plans.queries_dedup import _neardup_components

    d = read_table(spark, sf_dir, "documents")
    comps = _neardup_components(spark, sf_dir).localCheckpoint(eager=False)
    pairs = jaccard_pairs(d, 0.5, ngram=1, max_df=100)
    sz = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    ed = (
        pairs.join(
            comps.select(F.col("id").alias("id_a"), "component"), "id_a"
        )
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    cl = sz.join(ed, "component").select(
        "n_members",
        "n_edges",
        F.round(
            F.col("n_edges").cast("double")
            / (F.col("n_members") * (F.col("n_members") - 1) / 2.0),
            6,
        )
        .cast("decimal(18,6)")
        .alias("density"),
    )
    bucket = (
        F.when(F.col("n_members") == 2, "2")
        .when(F.col("n_members") <= 4, "3-4")
        .when(F.col("n_members") <= 9, "5-9")
        .otherwise("10+")
    )
    n = F.count(F.lit(1))
    return cl.groupBy(bucket.alias("size_bucket")).agg(
        n.cast("long").alias("n_clusters"),
        F.sum("n_members").cast("long").alias("n_docs"),
        F.sum("n_edges").cast("long").alias("n_edges"),
        F.round(F.sum("density").cast("double") / n, 6).alias("mean_density"),
        (F.min("density") + F.lit(0.0)).alias("min_density"),
    )


# ---------------------------------------------------------------------------
# q366 — embedding-cell drift PSI between snapshots
# ---------------------------------------------------------------------------

_Q366_K = 8  # cells == len(_Q285_CENTS)


def _q366_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_D2,
    )

    vals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    return f"""
        WITH cents(cid, c) AS (VALUES {vals}),
        asg AS (
            SELECT vec_id, CAST(cid AS INT) AS cell_id,
                   vec_id % 2 AS snap
            FROM (
                SELECT vec_id, embedding, cid,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                       ) AS rn
                FROM embeddings, cents
            ) WHERE rn = 1
        ),
        per AS (
            SELECT cell_id,
                   CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM asg GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM per),
        c AS (
            SELECT cell_id, n_a, n_b,
                   round(((CAST(n_a AS DOUBLE) + 1.0)
                              / (CAST(ta AS DOUBLE) + {_Q366_K}.0)
                          - (CAST(n_b AS DOUBLE) + 1.0)
                              / (CAST(tb AS DOUBLE) + {_Q366_K}.0))
                         * ln(((CAST(n_a AS DOUBLE) + 1.0)
                               / (CAST(ta AS DOUBLE) + {_Q366_K}.0))
                              / ((CAST(n_b AS DOUBLE) + 1.0)
                                 / (CAST(tb AS DOUBLE) + {_Q366_K}.0))),
                         6) + 0.0 AS psi_contrib
            FROM per, tot
        ),
        s AS (
            SELECT round(CAST(SUM(CAST(psi_contrib AS DECIMAL(18,6)))
                              AS DOUBLE), 6) + 0.0 AS psi_total
            FROM c
        )
        SELECT c.cell_id, c.n_a, c.n_b, c.psi_contrib, s.psi_total
        FROM c, s
    """


@query("q366_embedding_cell_drift", oracle=_q366_oracle())
def q366_embedding_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring in EMBEDDING space: q311's PSI discipline
    (Laplace-smoothed shares, cross-engine-exact ln, round-then-
    decimal-sum) applied to the coarse-quantizer cell histogram —
    even/odd vec_id halves playing two crawl snapshots over q285's
    fixed comb cells. Vocabulary PSI (q311) catches token-mass shifts;
    a semantic shift that keeps the vocabulary (paraphrase spam, topic
    rebalance, embedding-model version skew) moves the CELL mass
    first, and this is the alarm the incremental lanes (q327/q363)
    gate on before accepting a batch against a stale index.

    Scale shape: cell assignment is the broadcast-centroid argmin
    (never a data-sized window), the histogram is one {_Q366_K}-row
    groupBy, and everything after it is constant-sized."""
    from databricks_etl_spark.operators.similarity import assign_cells
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS

    e = read_table(spark, sf_dir, "embeddings")
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    per = (
        assign_cells(e, cents)
        .select("cell_id", (F.col("vec_id") % 2).alias("snap"))
        .groupBy("cell_id")
        .agg(
            F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    tot = per.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    pa = (F.col("n_a").cast("double") + 1.0) / (
        F.col("ta").cast("double") + float(_Q366_K)
    )
    pb = (F.col("n_b").cast("double") + 1.0) / (
        F.col("tb").cast("double") + float(_Q366_K)
    )
    c = per.crossJoin(F.broadcast(tot)).select(
        "cell_id",
        "n_a",
        "n_b",
        (F.round((pa - pb) * F.log(pa / pb), 6) + F.lit(0.0)).alias(
            "psi_contrib"
        ),
    )
    s = c.agg(
        (
            F.round(
                F.sum(F.col("psi_contrib").cast("decimal(18,6)")).cast(
                    "double"
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("psi_total")
    )
    return c.crossJoin(F.broadcast(s))


# ---------------------------------------------------------------------------
# q367 — token-weighted realized mixture (the grain the loss sees)
# ---------------------------------------------------------------------------


def _q367_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round8 import temp_weight_sql
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        _q326_oracle,
    )

    o312 = QUERIES["q312_training_manifest"].oracle
    return f"""
        WITH shipped AS MATERIALIZED (
            SELECT doc_id FROM ({o312}) WHERE ship
        ),
        pool AS (
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_shipped
            FROM shipped JOIN documents d USING (doc_id) GROUP BY 1
        ),
        tw AS (SELECT CAST(SUM(CAST({temp_weight_sql('n_shipped')}
                   AS DECIMAL(28,9))) AS DOUBLE) AS tw FROM pool),
        tgt AS (
            SELECT source,
                   round({temp_weight_sql('n_shipped')} / tw.tw, 6)
                       AS target_share
            FROM pool, tw
        ),
        ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        dl AS (
            SELECT doc_id, source, least({_Q291_TOKS}, {_Q326_B}) AS len
            FROM documents
        ),
        slots AS (
            SELECT o.epoch, dl.source,
                   CAST(COUNT(*) AS BIGINT) AS n_doc_slots,
                   CAST(SUM(dl.len) AS BIGINT) AS n_tokens
            FROM ord o JOIN dl ON o.doc_id = dl.doc_id
            GROUP BY 1, 2
        ),
        eps AS (SELECT DISTINCT epoch FROM ord),
        grid AS (
            SELECT t.source, t.target_share, e.epoch FROM tgt t, eps e
        ),
        fil AS (
            SELECT g.epoch, g.source,
                   CAST(COALESCE(s.n_doc_slots, 0) AS BIGINT) AS n_doc_slots,
                   CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   g.target_share
            FROM grid g LEFT JOIN slots s
                ON g.epoch = s.epoch AND g.source = s.source
        ),
        et AS (
            SELECT epoch, SUM(n_doc_slots) AS st, SUM(n_tokens) AS tt
            FROM fil GROUP BY 1
        )
        SELECT f.epoch, f.source, f.n_doc_slots, f.n_tokens,
               round(CAST(f.n_doc_slots AS DOUBLE) / et.st, 6)
                   AS slot_share,
               round(CAST(f.n_tokens AS DOUBLE) / et.tt, 6) AS token_share,
               f.target_share,
               round(CAST(f.n_tokens AS DOUBLE) / et.tt
                     - f.target_share, 6) AS token_deviation,
               round(CAST(f.n_tokens AS DOUBLE) / et.tt
                     - CAST(f.n_doc_slots AS DOUBLE) / et.st, 6)
                   AS token_vs_slot_gap
        FROM fil f JOIN et ON f.epoch = et.epoch
    """


@query("q367_token_mixture_audit", oracle=_q367_oracle())
def q367_token_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture at the grain the LOSS actually sees. q342 audits
    doc-SLOT shares, but a gradient step weights sources by TOKENS —
    and sources with systematically longer (or budget-clamped) docs
    take a different token share than their slot share. Per (epoch,
    source): tokens consumed (the packer's clamped lengths), token
    share vs q315's temperature target, and ``token_vs_slot_gap`` —
    the packing-induced distortion between the two grains that
    q342 alone cannot show. A source whose docs average 2x the corpus
    length trains 2x harder than its slot share suggests; this is the
    relation that quantifies it per epoch.

    Composes the registered q312 pool, q315 target kernel and q326
    stream (the q342 discipline); all rollups (epoch x source)-
    bounded, lengths joined doc_id-keyed with the packer's own
    least(len, B) convention."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        temp_weight_col,
    )
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        q326_dataloader_order,
    )

    d = read_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    # r16 OPT (guide §2.4): pool and ordr each feed two consumers —
    # one lazy materialization instead of re-running the q312/q326
    # compositions per consumer (the q342 fix applied here).
    pool = (
        ship.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shipped"))
        .localCheckpoint(eager=False)
    )
    # decimal-stable cross-partition sum (README rule): cast each weight
    # to decimal(28,9) so the fold is exact and order-independent, then
    # back to double for the share arithmetic.
    tw = pool.agg(
        F.sum(temp_weight_col(F.col("n_shipped")).cast("decimal(28,9)"))
        .cast("double")
        .alias("tw")
    )
    tgt = pool.crossJoin(F.broadcast(tw)).select(
        "source",
        F.round(temp_weight_col(F.col("n_shipped")) / F.col("tw"), 6).alias(
            "target_share"
        ),
    )
    dl = d.select(
        "doc_id",
        "source",
        F.least(F.size(tokens_col("text")).cast("long"), F.lit(_Q326_B))
        .cast("long")
        .alias("len"),
    )
    ordr = q326_dataloader_order(spark, sf_dir).localCheckpoint(eager=False)
    slots = (
        ordr.join(dl, "doc_id")
        .groupBy("epoch", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__slots"),
            F.sum("len").cast("long").alias("__toks"),
        )
    )
    eps = ordr.select("epoch").distinct()
    grid = tgt.crossJoin(F.broadcast(eps))
    fil = grid.join(slots, ["epoch", "source"], "left").select(
        "epoch",
        "source",
        F.coalesce("__slots", F.lit(0)).cast("long").alias("n_doc_slots"),
        F.coalesce("__toks", F.lit(0)).cast("long").alias("n_tokens"),
        "target_share",
    )
    et = fil.groupBy("epoch").agg(
        F.sum("n_doc_slots").alias("st"), F.sum("n_tokens").alias("tt")
    )
    ss = F.col("n_doc_slots").cast("double") / F.col("st")
    ts = F.col("n_tokens").cast("double") / F.col("tt")
    return fil.join(F.broadcast(et), "epoch").select(
        "epoch",
        "source",
        "n_doc_slots",
        "n_tokens",
        F.round(ss, 6).alias("slot_share"),
        F.round(ts, 6).alias("token_share"),
        "target_share",
        F.round(ts - F.col("target_share"), 6).alias("token_deviation"),
        F.round(ts - ss, 6).alias("token_vs_slot_gap"),
    )


# ---------------------------------------------------------------------------
# q368 — quality-score calibration against dup and contamination flags
# ---------------------------------------------------------------------------


def _q368_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05
    from databricks_etl_spark.plans.queries_round7 import _quality_sql

    o319 = QUERIES["q319_chunk_contamination"].oracle
    return f"""
        WITH RECURSIVE {_PAIRS_05},
        {_quality_sql()},
        cont AS MATERIALIZED (
            SELECT DISTINCT doc_id FROM ({o319})
        ),
        uni AS (
            SELECT d.doc_id, q.quality_score
            FROM documents d JOIN q ON d.doc_id = q.doc_id
            WHERE d.doc_id % 50 != 0
        ),
        lab AS (
            SELECT u.quality_score,
                   (cc.id IS NOT NULL) AS in_cluster,
                   (ct.doc_id IS NOT NULL) AS contaminated
            FROM uni u
            LEFT JOIN cc ON u.doc_id = cc.id
            LEFT JOIN cont ct ON u.doc_id = ct.doc_id
        )
        SELECT quality_score,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clustered,
               round(SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
               CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               round(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS contam_rate
        FROM lab GROUP BY 1
    """


@query("q368_quality_calibration", oracle=_q368_oracle())
def q368_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the quality score PREDICTIVE of anything the pipeline
    independently measures? Scores justify filter thresholds only if
    low-score docs really are worse along the axes that matter; this
    calibrates the composite score (exact quarters, so the score IS
    the bucket) against two registered flag relations — near-dup
    cluster membership (q123's closure) and chunk-level benchmark
    contamination (q319, doc-rolled) — over q319's corpus universe
    (benchmark docs excluded: they cannot be 'contaminated' by
    themselves). Per score level: doc counts and both rates. A flat
    dup_rate across score levels says dedup and quality filtering are
    INDEPENDENT gates (both earn their keep); a collapsed one says
    the score already subsumes dedup — the redundancy a pipeline-
    simplification decision reads.

    Scale shape: two doc_id-keyed left joins against bounded flag
    relations, one 5-row rollup; the flag relations' own costs are
    the registered lanes'."""
    from databricks_etl_spark.operators.text import quality_features
    from databricks_etl_spark.plans.queries_dedup import _neardup_components
    from databricks_etl_spark.plans.queries_round8 import (
        q319_chunk_contamination,
    )

    d = read_table(spark, sf_dir, "documents")
    uni = (
        d.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id")
        .join(
            quality_features(d).select("doc_id", "quality_score"), "doc_id"
        )
    )
    clustered = _neardup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("__cl")
    )
    cont = (
        q319_chunk_contamination(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .withColumn("__ct", F.lit(True))
    )
    lab = (
        uni.join(clustered, "doc_id", "left")
        .join(cont, "doc_id", "left")
    )
    in_cl = F.sum(F.when(F.col("__cl").isNotNull(), 1).otherwise(0))
    in_ct = F.sum(F.when(F.col("__ct").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return lab.groupBy("quality_score").agg(
        n.cast("long").alias("n_docs"),
        in_cl.cast("long").alias("n_clustered"),
        F.round(in_cl / n.cast("double"), 6).alias("dup_rate"),
        in_ct.cast("long").alias("n_contaminated"),
        F.round(in_ct / n.cast("double"), 6).alias("contam_rate"),
    )


# ---------------------------------------------------------------------------
# q369 — dedup-savings threshold sweep
# ---------------------------------------------------------------------------

_Q369_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _q369_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    taus = ", ".join(str(t) for t in _Q369_TAUS)
    return f"""
        WITH d0 AS (
            SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
        ),
        i0 AS (SELECT doc_id, unnest(toks) AS item FROM d0),
        keep AS (
            SELECT item FROM i0 GROUP BY item HAVING COUNT(*) <= 100
        ),
        i AS (SELECT i0.doc_id, i0.item FROM i0 JOIN keep USING (item)),
        ssz AS (SELECT doc_id, COUNT(*) AS n FROM i GROUP BY 1),
        sh AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
            FROM i a JOIN i b USING (item)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ),
        jp AS (
            SELECT id_a, id_b,
                   round(CAST(shared AS DOUBLE)
                         / (sa.n + sb.n - shared), 6) AS jaccard
            FROM sh
            JOIN ssz sa ON sh.id_a = sa.doc_id
            JOIN ssz sb ON sh.id_b = sb.doc_id
            WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
                  >= {_Q369_TAUS[0]}
        ),
        tk AS (SELECT doc_id, len({_TOKS}) AS n_toks FROM documents),
        tau AS (SELECT CAST(unnest([{taus}]) AS DOUBLE) AS threshold),
        lv AS (
            SELECT tau.threshold, jp.id_a, jp.id_b
            FROM jp JOIN tau ON jp.jaccard >= tau.threshold
        ),
        inv AS (
            SELECT DISTINCT threshold, doc_id FROM (
                SELECT threshold, id_a AS doc_id FROM lv
                UNION ALL
                SELECT threshold, id_b FROM lv
            )
        ),
        drp AS (SELECT DISTINCT threshold, id_b FROM lv)
        SELECT t.threshold,
               CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(v.n_docs, 0) AS BIGINT) AS n_docs_involved,
               CAST(COALESCE(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
               CAST(COALESCE(dr.tokens_dropped, 0) AS BIGINT)
                   AS tokens_dropped
        FROM tau t
        LEFT JOIN (SELECT threshold, COUNT(*) AS n_pairs
                   FROM lv GROUP BY 1) p ON t.threshold = p.threshold
        LEFT JOIN (SELECT threshold, COUNT(*) AS n_docs
                   FROM inv GROUP BY 1) v ON t.threshold = v.threshold
        LEFT JOIN (SELECT d.threshold, COUNT(*) AS n_dropped,
                          SUM(tk.n_toks) AS tokens_dropped
                   FROM drp d JOIN tk ON d.id_b = tk.doc_id
                   GROUP BY 1) dr ON t.threshold = dr.threshold
    """


@query("q369_dedup_threshold_sweep", oracle=_q369_oracle())
def q369_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each notch of the Jaccard threshold BUY (and cost)?
    The q341 sweep discipline on the dedup axis: one threshold-free
    scored pair relation (J >= {_Q369_TAUS[0]}, the same index rule as
    q123/q353) exploded across tau in {_Q369_TAUS}, reporting per
    level the surviving pairs, docs involved, and the docs/tokens a
    CONSERVATIVE drop rule removes — drop d iff some pair (a, d) with
    a < d clears the threshold, which keeps every component's minimum
    and guarantees each dropped doc has a DIRECT retained near-dup
    (stricter than q124's closure rule, which drops transitively-
    similar docs too; both are valid policies and the gap is the
    chaining effect q365 measures). Every count is monotone
    NON-INCREASING in tau by construction (tested) — the curve a
    threshold decision reads next to q359's SimHash calibration.

    Scale shape: the pair relation is computed ONCE at the loosest
    tau (candidate volume bounded by the df cap); the sweep is a
    {len(_Q369_TAUS)}-way explode of that bounded relation; token
    sums join doc_id-keyed."""
    from databricks_etl_spark.operators.dedup import jaccard_pairs
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, _Q369_TAUS[0], ngram=1, max_df=100
    ).localCheckpoint(eager=False)
    tk = d.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_toks")
    )
    lv = pairs.withColumn(
        "threshold",
        F.explode(F.array(*[F.lit(float(t)) for t in _Q369_TAUS])),
    ).filter(F.col("jaccard") >= F.col("threshold"))
    p = lv.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    inv = (
        lv.select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("doc_id")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_involved"))
    )
    drp = (
        lv.select("threshold", "id_b")
        .distinct()
        .join(tk, F.col("id_b") == F.col("doc_id"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dropped"),
            F.sum("n_toks").cast("long").alias("tokens_dropped"),
        )
    )
    tau = spark.createDataFrame(
        [(float(t),) for t in _Q369_TAUS], "threshold double"
    )
    return (
        tau.join(p, "threshold", "left")
        .join(inv, "threshold", "left")
        .join(drp, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_involved", F.lit(0))
            .cast("long")
            .alias("n_docs_involved"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.coalesce("tokens_dropped", F.lit(0))
            .cast("long")
            .alias("tokens_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# q370 — packing budget sweep: is a bigger sequence budget worth it?
# ---------------------------------------------------------------------------

_Q370_BUDGETS = (128, 256, 512)  # 256 == _Q326_B, the production budget


def _q370_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_P,
        _grouped_ffd_sql,
    )

    o312 = QUERIES["q312_training_manifest"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
    chains, unions = [], []
    for idx, b in enumerate(_Q370_BUDGETS):
        sfx = str(idx)
        chains.append(f"""base{sfx} AS MATERIALIZED (
            SELECT d.doc_id, least({_Q291_TOKS}, {b}) AS len,
                   e.epochs AS eclass
            FROM documents d
            JOIN ship ON d.doc_id = ship.doc_id
            JOIN ep e ON d.source = e.source
        ),
        it{sfx} AS MATERIALIZED (
            SELECT b.doc_id, b.len, b.eclass, b.doc_id % sc.s AS shard,
                   row_number() OVER (
                       PARTITION BY b.eclass, b.doc_id % sc.s
                       ORDER BY b.len DESC, b.doc_id) AS k
            FROM base{sfx} b JOIN sc ON b.eclass = sc.eclass
        ),
        {_grouped_ffd_sql(sfx, budget=b)}""")
        unions.append(f"""            SELECT CAST({b} AS BIGINT) AS budget,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT p.seq_uid) AS BIGINT) AS n_seqs,
                   CAST(SUM(b.len) AS BIGINT) AS sum_tokens
            FROM placed{sfx} p JOIN base{sfx} b ON p.doc_id = b.doc_id""")
    chain_sql = ",\n        ".join(chains)
    union_sql = "\n            UNION ALL\n".join(unions)
    return f"""
        WITH RECURSIVE
        ship AS MATERIALIZED (SELECT doc_id FROM ({o312}) WHERE ship),
        ep AS MATERIALIZED (SELECT source, epochs FROM ({o323})),
        sc AS (
            SELECT e.epochs AS eclass,
                   CAST(ceil(COUNT(*) / {_Q326_P}.0) AS BIGINT) AS s
            FROM documents d
            JOIN ship ON d.doc_id = ship.doc_id
            JOIN ep e ON d.source = e.source
            GROUP BY 1
        ),
        {chain_sql},
        g AS (
{union_sql}
        )
        SELECT budget, n_docs, n_seqs,
               CAST((sum_tokens + budget - 1) // budget AS BIGINT)
                   AS lb_seqs,
               sum_tokens,
               CAST(n_seqs * budget - sum_tokens AS BIGINT) AS pad_tokens,
               round(CAST(sum_tokens AS DOUBLE) / (n_seqs * budget), 6)
                   AS fill_frac,
               CAST(n_docs - n_seqs AS BIGINT) AS n_boundaries
        FROM g
    """


@query("q370_packing_budget_sweep", oracle=_q370_oracle())
def q370_packing_budget_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report q348 promises: is a bigger sequence budget WORTH
    it? The same shipped-doc pool packs at budgets {_Q370_BUDGETS}
    (production = 256) and each level reports sequences vs the
    ceil(sum/B) floor, pad tokens, fill fraction, and the attention-
    mask boundaries (docs - seqs: every sequence's first doc is free,
    each further doc adds one boundary). The trade is visible in one
    relation: a larger B packs more docs per sequence (fewer
    boundaries, usually better fill) but clamps fewer long docs
    (sum_tokens GROWS with B — the clamp is the packer's own rule,
    so truncation loss falls as B rises) and costs quadratically more
    attention compute per sequence — the number next to fill_frac a
    budget decision weighs.

    Scale shape: one FFD per level over the same sharded groups
    ({len(_Q370_BUDGETS)}x the q326 Arrow fold, each per-shard
    bounded); rollups are budget-level scalars. The oracle runs the
    suffixed recursion per level with MATERIALIZED inputs (the
    CLAUDE.md recursion rule)."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        q323_epoch_allocation,
    )
    from databricks_etl_spark.plans.queries_round9 import _Q326_P

    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    ep = q323_epoch_allocation(spark, sf_dir).select("source", "epochs")
    d = read_table(spark, sf_dir, "documents")
    base = (
        d.join(ship, "doc_id")
        .join(F.broadcast(ep), "source")
        .select(
            "doc_id",
            F.size(tokens_col("text")).cast("long").alias("len"),
            F.col("epochs").cast("long").alias("eclass"),
        )
        .localCheckpoint(eager=False)  # one scan feeds every budget level
    )
    levels = []
    for b in _Q370_BUDGETS:
        packed = ffd_pack(base, b, _Q326_P, group_col="eclass")
        levels.append(
            packed.agg(
                F.lit(b).cast("long").alias("budget"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.countDistinct("seq_id").cast("long").alias("n_seqs"),
                F.sum("n_tokens").cast("long").alias("sum_tokens"),
            )
        )
    g = reduce(lambda a, c: a.unionAll(c), levels)
    bud = F.col("budget")
    return g.select(
        "budget",
        "n_docs",
        "n_seqs",
        F.expr("(sum_tokens + budget - 1) DIV budget").alias("lb_seqs"),
        "sum_tokens",
        (F.col("n_seqs") * bud - F.col("sum_tokens")).alias("pad_tokens"),
        F.round(
            F.col("sum_tokens").cast("double") / (F.col("n_seqs") * bud), 6
        ).alias("fill_frac"),
        (F.col("n_docs") - F.col("n_seqs")).alias("n_boundaries"),
    )


# ---------------------------------------------------------------------------
# q371 — truncation-loss audit: what the sequence-budget clamp destroys
# ---------------------------------------------------------------------------


def _q371_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    o312 = QUERIES["q312_training_manifest"].oracle
    return f"""
        WITH ship AS MATERIALIZED (
            SELECT doc_id FROM ({o312}) WHERE ship
        ),
        dl AS (
            SELECT d.source, {_Q291_TOKS} AS raw_len,
                   least({_Q291_TOKS}, {_Q326_B}) AS kept_len
            FROM documents d JOIN ship ON d.doc_id = ship.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN raw_len > {_Q326_B} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clamped,
               CAST(SUM(raw_len) AS BIGINT) AS raw_tokens,
               CAST(SUM(kept_len) AS BIGINT) AS kept_tokens,
               CAST(SUM(raw_len - kept_len) AS BIGINT) AS lost_tokens,
               round(SUM(raw_len - kept_len)
                     / CAST(SUM(raw_len) AS DOUBLE), 6) AS loss_frac,
               CAST(MAX(raw_len) AS BIGINT) AS max_raw_len
        FROM dl GROUP BY 1
    """


@query("q371_truncation_loss_audit", oracle=_q371_oracle())
def q371_truncation_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the packer's budget clamp DESTROYS, attributed per
    source: every shipped doc longer than the {_Q326_B}-token budget
    loses its tail (the documented least(len, B) rule every packing
    lane shares), and this audit reports the docs clamped, the raw vs
    kept token masses, the loss fraction and the longest doc per
    source. The decision it feeds: a source losing a big fraction of
    its tokens to the clamp should route through q318's CHUNKING lane
    (loss-free by construction) or argue for q370's bigger budget —
    truncation is the one data loss the pipeline inflicts silently,
    and q367's mixture audit can't see it because the stream only
    carries clamped lengths.

    Scale shape: one scan of the shipped pool, one per-source rollup;
    pure integer sums plus one rounded ratio."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    d = read_table(spark, sf_dir, "documents")
    raw = F.size(tokens_col("text")).cast("long")
    dl = d.join(ship, "doc_id").select(
        "source",
        raw.alias("raw_len"),
        F.least(raw, F.lit(_Q326_B)).cast("long").alias("kept_len"),
    )
    lost = F.sum(F.col("raw_len") - F.col("kept_len"))
    return dl.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("raw_len") > _Q326_B, 1).otherwise(0))
        .cast("long")
        .alias("n_clamped"),
        F.sum("raw_len").cast("long").alias("raw_tokens"),
        F.sum("kept_len").cast("long").alias("kept_tokens"),
        lost.cast("long").alias("lost_tokens"),
        F.round(lost / F.sum("raw_len").cast("double"), 6).alias("loss_frac"),
        F.max("raw_len").cast("long").alias("max_raw_len"),
    )


# ---------------------------------------------------------------------------
# q372 — block-diagonal attention compute audit
# ---------------------------------------------------------------------------


def _q372_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    b = _Q326_B
    return f"""
        {_placed_len_sql()},
        g AS (
            SELECT eclass,
                   CAST(COUNT(DISTINCT seq_uid) AS BIGINT) AS n_seqs,
                   CAST(SUM(len * len) AS BIGINT) AS eff_pairs
            FROM pj GROUP BY 1
        )
        SELECT eclass, n_seqs,
               CAST(n_seqs * {b * b} AS BIGINT) AS full_pairs,
               eff_pairs,
               round(1.0 - CAST(eff_pairs AS DOUBLE)
                     / (n_seqs * {b * b}.0), 6) AS save_frac
        FROM g
    """


@query("q372_attention_compute_audit", oracle=_q372_oracle())
def q372_attention_compute_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What block-diagonal attention masking SAVES, in attention
    pairs: a packed sequence without masking attends {_Q326_B}^2
    token pairs; with per-document masks only sum(len^2) over its
    segments compute (pad tokens mask out entirely). Per epoch class:
    sequences, the full-attention pair count, the effective masked
    pair count, and the saved fraction — q349 counts the mask
    BOUNDARIES the kernel processes; this prices the FLOPs the mask
    saves, the number that justifies running a masking kernel at all
    (and, against q370's budget sweep, shows the quadratic penalty a
    bigger budget pays). All-integer until the final ratio: len <=
    {_Q326_B} so len^2 sums stay far inside BIGINT.

    Scale shape: one groupBy over the placement relation; the len^2
    term is a per-row expression."""
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    b2 = _Q326_B * _Q326_B
    g = (
        _corpus_placement(spark, sf_dir)
        .groupBy("eclass")
        .agg(
            F.countDistinct("seq_uid").cast("long").alias("n_seqs"),
            F.sum(F.col("n_tokens") * F.col("n_tokens"))
            .cast("long")
            .alias("eff_pairs"),
        )
    )
    return g.select(
        "eclass",
        "n_seqs",
        (F.col("n_seqs") * b2).cast("long").alias("full_pairs"),
        "eff_pairs",
        F.round(
            F.lit(1.0)
            - F.col("eff_pairs").cast("double") / (F.col("n_seqs") * float(b2)),
            6,
        ).alias("save_frac"),
    )


# ---------------------------------------------------------------------------
# q373 — retrieval source-bias audit over the exact truth relation
# ---------------------------------------------------------------------------


def _q373_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _Q332_TOPK

    return f"""
        WITH {_q332_base_sql()},
        s0 AS (
            SELECT q.qid, c.doc_id, c.chunk_idx, {_q332_sim_sql()} AS sim
            FROM qemb q JOIN cemb c ON TRUE
        ),
        truth AS (
            SELECT qid, doc_id FROM (
                SELECT qid, doc_id,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, doc_id, chunk_idx) AS rk
                FROM s0
            ) WHERE rk <= {_Q332_TOPK}
        ),
        hits AS (
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM truth t JOIN documents d ON t.doc_id = d.doc_id
            GROUP BY 1
        ),
        pool AS (
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM cemb c JOIN documents d ON c.doc_id = d.doc_id
            GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT SUM(n_hits) FROM hits) AS th,
                   (SELECT SUM(n_chunks) FROM pool) AS tc
        )
        SELECT p.source,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               p.n_chunks,
               round(COALESCE(h.n_hits, 0) / CAST(tot.th AS DOUBLE), 6)
                   AS hit_share,
               round(p.n_chunks / CAST(tot.tc AS DOUBLE), 6)
                   AS chunk_share,
               round(COALESCE(h.n_hits, 0) / CAST(tot.th AS DOUBLE)
                     - p.n_chunks / CAST(tot.tc AS DOUBLE), 6) AS bias
        FROM pool p LEFT JOIN hits h ON p.source = h.source, tot
    """


@query("q373_retrieval_source_bias", oracle=_q373_oracle())
def q373_retrieval_source_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO gets retrieved? A RAG index can systematically over-serve
    one source (templated text embeds tightly; near-dup chunks vote
    together), and recall metrics (q332/q341) can't see it. Over the
    exact brute-force truth relation — the BEST the index could do,
    so bias here is in the DATA, not the ANN approximation — per
    source: top-{10} hits across the query set, the source's share of
    those hits vs its share of the chunk pool, and the signed bias.
    Sources never retrieved appear with zero hits (the grid is the
    pool side, left-joined). An over-served source routes to q355's
    repetition spectrum (templated boilerplate) or q321's soft-dedup
    weights.

    Scale shape: inherits q332's one scored pass (broadcast query
    set); both rollups are source-bounded; truth is the audited EVAL
    (documented as such, as q310/q341)."""
    from databricks_etl_spark.operators.similarity import (
        norm,
        paired_cosine,
    )
    from databricks_etl_spark.plans.queries_round9 import (
        _Q332_TOPK,
        _q332_relations,
    )

    cemb, qemb = _q332_relations(spark, sf_dir)
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    s0 = (
        cemb.withColumn("__cn", norm(F.col("ce")))
        .join(
            F.broadcast(qemb.withColumn("__qn", norm(F.col("qe")))),
            F.lit(True),
        )
        .select(
            "qid",
            "doc_id",
            "chunk_idx",
            F.round(
                paired_cosine(
                    F.col("qe"), F.col("ce"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("sim"), F.asc("doc_id"), F.asc("chunk_idx")
    )
    truth = (
        s0.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q332_TOPK)
        .select("qid", "doc_id")
    )
    hits = (
        truth.join(d, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    pool = (
        cemb.select("doc_id")
        .join(d, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    )
    tot = hits.agg(F.sum("n_hits").alias("th")).crossJoin(
        pool.agg(F.sum("n_chunks").alias("tc"))
    )
    hs = F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("th")
    cs = F.col("n_chunks").cast("double") / F.col("tc")
    return (
        pool.join(hits, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_chunks",
            F.round(hs, 6).alias("hit_share"),
            F.round(cs, 6).alias("chunk_share"),
            F.round(hs - cs, 6).alias("bias"),
        )
    )


# ---------------------------------------------------------------------------
# q374 — incremental eval-sample maintenance (provably == recompute)
# ---------------------------------------------------------------------------


def _q374_oracle() -> str:
    """Full recompute over corpus ∪ delta — the incremental Spark path
    must hash-match THIS, so the maintenance rule itself is
    driver-proven equal to recomputation."""
    from databricks_etl_spark.plans.queries_text import _TOKS

    return f"""
        WITH delta AS (
            SELECT doc_id + {_Q363_B} AS doc_id, source,
                   CASE WHEN doc_id % 14 = 3 THEN text
                        ELSE array_to_string(list_transform({_TOKS},
                            t -> substr(md5(t), 1, 8)), ' ')
                   END AS text
            FROM documents WHERE doc_id % 7 = 3
        ),
        uni AS (
            SELECT source, doc_id FROM documents
            UNION ALL
            SELECT source, doc_id FROM delta
        ),
        k AS (
            SELECT source, doc_id,
                   md5(CAST(doc_id AS VARCHAR) || '{_Q357_SALT}') AS ky
            FROM uni
        )
        SELECT source, doc_id, CAST(smp_rank AS BIGINT) AS smp_rank,
               doc_id >= {_Q363_B} AS from_delta
        FROM (
            SELECT source, doc_id, ky,
                   row_number() OVER (
                       PARTITION BY source ORDER BY ky, doc_id) AS smp_rank
            FROM k
        ) WHERE smp_rank <= {_Q357_N}
    """


@query("q374_incremental_sample_maintenance", oracle=_q374_oracle())
def q374_incremental_sample_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-sample maintenance at DELTA cost, provably exact: when a
    crawl batch lands (q363's delta), the q357 sample updates by
    ranking only (old sample ∪ delta) per source — the corpus is
    never re-scanned. The rule is exactly lossless: the old sample is
    each source's salted-md5 top-{_Q357_N}, and any corpus doc
    OUTSIDE it ranks below {_Q357_N} in the union too, so
    top-{_Q357_N}(old sample ∪ delta) == top-{_Q357_N}(corpus ∪
    delta) — not an approximation, an identity. The driver proves it:
    this query RUNS the incremental path while its oracle RECOMPUTES
    from scratch, so a hash match certifies the maintenance rule
    itself (the strongest form of the q343/q346 delta discipline).
    ``from_delta`` flags the churn — how many sample slots the batch
    displaced.

    Scale shape: the incremental input is (sources x {_Q357_N}) +
    delta rows; the per-source re-rank is over a constant-plus-delta
    relation (q357's two-phase split is unnecessary at that size)."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    old = q357_stratified_eval_sample(spark, sf_dir).select(
        "source", "doc_id"
    )
    delta = d.filter(F.col("doc_id") % 7 == 3).select(
        "source", (F.col("doc_id") + _Q363_B).alias("doc_id")
    )
    uni = old.unionAll(delta)
    k = uni.select(
        "source",
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(_Q357_SALT))
        ).alias("ky"),
    )
    w = Window.partitionBy("source").orderBy("ky", "doc_id")
    return (
        k.withColumn("smp_rank", F.row_number().over(w))
        .filter(F.col("smp_rank") <= _Q357_N)
        .select(
            "source",
            "doc_id",
            F.col("smp_rank").cast("long").alias("smp_rank"),
            (F.col("doc_id") >= _Q363_B).alias("from_delta"),
        )
    )


# ---------------------------------------------------------------------------
# q375 — batch-accept decision record (the drift-gated ingest verdict)
# ---------------------------------------------------------------------------

_Q375_PSI_MAX = 0.25  # vocab-PSI accept ceiling (q327's gate constant)
_Q375_CELL_PSI_MAX = 0.25  # embedding-cell PSI accept ceiling


def _q375_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _Q327_PSI_MAX

    o311 = QUERIES["q311_vocab_drift"].oracle
    o366 = QUERIES["q366_embedding_cell_drift"].oracle
    o327 = QUERIES["q327_manifest_maintenance"].oracle
    return f"""
        WITH v AS (SELECT DISTINCT psi_total FROM ({o311})),
        e AS (SELECT DISTINCT psi_total AS cell_psi FROM ({o366})),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_delta,
                   CAST(SUM(CASE WHEN ship THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_shippable,
                   CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_contaminated,
                   CAST(SUM(CASE WHEN sem_dup THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sem_dup
            FROM ({o327})
        )
        SELECT v.psi_total AS vocab_psi, e.cell_psi,
               m.n_delta, m.n_shippable, m.n_contaminated, m.n_sem_dup,
               round(CAST(m.n_shippable AS DOUBLE) / m.n_delta, 6)
                   AS ship_frac,
               (v.psi_total < {_Q327_PSI_MAX}
                AND e.cell_psi < {_Q375_CELL_PSI_MAX}
                AND m.n_shippable > 0) AS accept_batch
        FROM v, e, m
    """


@query("q375_batch_accept_record", oracle=_q375_oracle())
def q375_batch_accept_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE-ROW decision record an ingest gate writes before a
    crawl batch enters the corpus: vocabulary PSI (q311), embedding-
    cell PSI (q366 — the semantic alarm the vocab metric misses),
    and the delta manifest's verdict counts (q327: contaminated /
    semantic-dup / shippable), joined into an explicit accept verdict
    (both drifts under their ceilings AND at least one shippable
    doc). Every input is a REGISTERED query's own relation, so the
    record can never disagree with the lanes it summarizes — the
    composition discipline of q339's data card applied to the
    ingest-time decision itself. At 100 TB this row is what lands in
    the pipeline's audit log per batch; the expensive parts are the
    component lanes, all delta-sized or persisted-index probes.

    Scale shape: three 1-row/gated aggregates broadcast-crossed."""
    from databricks_etl_spark.plans.queries_round7 import q311_vocab_drift
    from databricks_etl_spark.plans.queries_round9 import (
        _Q327_PSI_MAX,
        q327_manifest_maintenance,
    )

    v = q311_vocab_drift(spark, sf_dir).select("psi_total").distinct()
    e = (
        q366_embedding_cell_drift(spark, sf_dir)
        .select(F.col("psi_total").alias("cell_psi"))
        .distinct()
    )
    m = q327_manifest_maintenance(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_delta"),
        F.sum(F.when(F.col("ship"), 1).otherwise(0))
        .cast("long")
        .alias("n_shippable"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum(F.when(F.col("sem_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_sem_dup"),
    )
    return (
        v.crossJoin(F.broadcast(e))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("psi_total").alias("vocab_psi"),
            "cell_psi",
            "n_delta",
            "n_shippable",
            "n_contaminated",
            "n_sem_dup",
            F.round(
                F.col("n_shippable").cast("double") / F.col("n_delta"), 6
            ).alias("ship_frac"),
            (
                (F.col("psi_total") < _Q327_PSI_MAX)
                & (F.col("cell_psi") < _Q375_CELL_PSI_MAX)
                & (F.col("n_shippable") > 0)
            ).alias("accept_batch"),
        )
    )


# ---------------------------------------------------------------------------
# q376 — top repeated shingles: the actionable list behind q355
# ---------------------------------------------------------------------------

_Q376_K = 20


def _q376_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    shingle = " || ' ' || ".join(f"toks[i+{k}]" for k in range(_Q355_W))
    return f"""
        WITH tok AS (
            SELECT source, {_TOKS} AS toks FROM documents
        ),
        sg AS (
            SELECT source,
                   unnest(list_transform(
                       range(1, len(toks) - {_Q355_W - 2}),
                       i -> {shingle})) AS s
            FROM tok
        ),
        g AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
            FROM sg GROUP BY 1
        )
        SELECT s AS shingle, n_occurrences, n_sources
        FROM g
        ORDER BY n_occurrences DESC, s
        LIMIT {_Q376_K}
    """


@query("q376_top_repeated_shingles", oracle=_q376_oracle())
def q376_top_repeated_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE list behind q355's histogram: the top
    {_Q376_K} most-repeated {_Q355_W}-token shingles by corpus-wide
    occurrence (explicit (count DESC, shingle) total order), with the
    number of sources each spans. q355 says HOW MUCH boilerplate a
    source carries; this says WHAT it is — the literal license
    headers / navigation chrome / template spans a cleaning rule gets
    written against (and cross-source spread distinguishes shared
    web boilerplate from one source's template).

    Scale shape: one count aggregate on the shingle key (strings kept
    only through the grouped relation — distinct shingles, not
    occurrences), then a global top-k that compiles to
    TakeOrderedAndProject (per-partition heads, never a full sort)."""
    from databricks_etl_spark.operators.text import shingle_array, tokens_col

    d = read_table(spark, sf_dir, "documents")
    sg = d.select(
        "source",
        F.explode(shingle_array(tokens_col("text"), _Q355_W)).alias("s"),
    )
    g = sg.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return (
        g.orderBy(F.desc("n_occurrences"), F.asc("s"))
        .limit(_Q376_K)
        .select(
            F.col("s").alias("shingle"), "n_occurrences", "n_sources"
        )
    )


# ---------------------------------------------------------------------------
# q377 — training-path comparison: clamp vs loss-free chunking
# ---------------------------------------------------------------------------

_Q377_CW = 64  # non-overlapping chunk window (q318's window, stride=window)
_Q377_CKEY = 1_000_000  # chunk-id packing base (q340's convention)


def _q377_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        _Q326_P,
        _grouped_ffd_sql,
    )

    o312 = QUERIES["q312_training_manifest"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
    b = _Q326_B
    return f"""
        WITH RECURSIVE
        ship AS MATERIALIZED (SELECT doc_id FROM ({o312}) WHERE ship),
        ep AS MATERIALIZED (SELECT source, epochs FROM ({o323})),
        rawl AS MATERIALIZED (
            SELECT d.doc_id, {_Q291_TOKS} AS rlen, e.epochs AS eclass
            FROM documents d
            JOIN ship ON d.doc_id = ship.doc_id
            JOIN ep e ON d.source = e.source
        ),
        base0 AS MATERIALIZED (
            SELECT doc_id, least(rlen, {b}) AS len, eclass FROM rawl
        ),
        sc0 AS (
            SELECT eclass, CAST(ceil(COUNT(*) / {_Q326_P}.0) AS BIGINT) AS s
            FROM base0 GROUP BY 1
        ),
        it0 AS MATERIALIZED (
            SELECT b.doc_id, b.len, b.eclass, b.doc_id % sc0.s AS shard,
                   row_number() OVER (
                       PARTITION BY b.eclass, b.doc_id % sc0.s
                       ORDER BY b.len DESC, b.doc_id) AS k
            FROM base0 b JOIN sc0 ON b.eclass = sc0.eclass
        ),
        {_grouped_ffd_sql("0")},
        ch AS (
            SELECT doc_id, eclass, rlen,
                   unnest(range(0, CAST(rlen AS BIGINT), {_Q377_CW})) AS p
            FROM rawl
        ),
        cl AS MATERIALIZED (
            SELECT doc_id * {_Q377_CKEY} + p // {_Q377_CW} AS doc_id,
                   least({_Q377_CW}, rlen - p) AS len, eclass
            FROM ch
        ),
        sc1 AS (
            SELECT eclass, CAST(ceil(COUNT(*) / {_Q326_P}.0) AS BIGINT) AS s
            FROM cl GROUP BY 1
        ),
        it1 AS MATERIALIZED (
            SELECT c.doc_id, c.len, c.eclass, c.doc_id % sc1.s AS shard,
                   row_number() OVER (
                       PARTITION BY c.eclass, c.doc_id % sc1.s
                       ORDER BY c.len DESC, c.doc_id) AS k
            FROM cl c JOIN sc1 ON c.eclass = sc1.eclass
        ),
        {_grouped_ffd_sql("1")},
        rt AS (SELECT CAST(SUM(rlen) AS BIGINT) AS raw FROM rawl),
        g AS (
            SELECT 'clamp' AS path,
                   CAST(COUNT(*) AS BIGINT) AS n_units,
                   CAST(SUM(b.len) AS BIGINT) AS kept_tokens,
                   CAST(COUNT(DISTINCT p.seq_uid) AS BIGINT) AS n_seqs
            FROM placed0 p JOIN base0 b ON p.doc_id = b.doc_id
            UNION ALL
            SELECT 'chunk',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c.len) AS BIGINT),
                   CAST(COUNT(DISTINCT p.seq_uid) AS BIGINT)
            FROM placed1 p JOIN cl c ON p.doc_id = c.doc_id
        )
        SELECT path, n_units, rt.raw AS raw_tokens, kept_tokens,
               CAST(rt.raw - kept_tokens AS BIGINT) AS lost_tokens,
               n_seqs,
               CAST(n_seqs * {b} - kept_tokens AS BIGINT) AS pad_tokens,
               round(CAST(kept_tokens AS DOUBLE) / (n_seqs * {b}), 6)
                   AS fill_frac
        FROM g, rt
    """


@query("q377_clamp_vs_chunk_paths", oracle=_q377_oracle())
def q377_clamp_vs_chunk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision q371 routes to, priced end to end: pack the
    shipped pool by CLAMPING long docs at the {256}-token budget (the
    production path; loses tails) vs by NON-OVERLAPPING
    {_Q377_CW}-token CHUNKING first (loss-free by construction: chunk
    lengths sum exactly to the raw length) — both through the same
    sharded FFD at the same budget. Two rows: units packed, raw vs
    kept tokens (chunk path keeps everything; clamp's loss is q371's
    total), sequences, pad, fill. What it exposes: chunking trains
    MORE tokens but costs more sequences and mask boundaries (q372's
    axis), and the chunk grain packs tighter (64-token pieces fill
    bins better) — the full trade a pipeline chooses between.

    Scale shape: the chunk side never materializes text — only
    lengths explode (range over the token count); both packs are the
    per-shard FFD fold; chunk keys use q340's doc*1e6+idx convention
    (chunk_idx < 1e6 by the length bound). The oracle runs both
    suffixed recursions with MATERIALIZED inputs."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        q323_epoch_allocation,
    )
    from databricks_etl_spark.plans.queries_round9 import _Q326_B, _Q326_P

    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    ep = q323_epoch_allocation(spark, sf_dir).select("source", "epochs")
    d = read_table(spark, sf_dir, "documents")
    rawl = (
        d.join(ship, "doc_id")
        .join(F.broadcast(ep), "source")
        .select(
            "doc_id",
            F.size(tokens_col("text")).cast("long").alias("rlen"),
            F.col("epochs").cast("long").alias("eclass"),
        )
        .localCheckpoint(eager=False)
    )
    raw_total = rawl.agg(F.sum("rlen").cast("long").alias("raw"))

    clamp = ffd_pack(
        rawl.select("doc_id", F.col("rlen").alias("len"), "eclass"),
        _Q326_B,
        _Q326_P,
        group_col="eclass",
    )
    cl = rawl.select(
        "doc_id",
        "eclass",
        "rlen",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("rlen") - 1,
                F.lit(_Q377_CW).cast("long"),
            )
        ).alias("p"),
    ).select(
        (F.col("doc_id") * _Q377_CKEY + F.expr(f"p DIV {_Q377_CW}")).alias(
            "doc_id"
        ),
        F.least(F.lit(_Q377_CW).cast("long"), F.col("rlen") - F.col("p"))
        .cast("long")
        .alias("len"),
        "eclass",
    )
    chunk = ffd_pack(cl, _Q326_B, _Q326_P, group_col="eclass")

    def roll(packed, path):
        return packed.agg(
            F.lit(path).alias("path"),
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("n_tokens").cast("long").alias("kept_tokens"),
            F.countDistinct("seq_id").cast("long").alias("n_seqs"),
        )

    g = roll(clamp, "clamp").unionAll(roll(chunk, "chunk"))
    return g.crossJoin(F.broadcast(raw_total)).select(
        "path",
        "n_units",
        F.col("raw").alias("raw_tokens"),
        "kept_tokens",
        (F.col("raw") - F.col("kept_tokens")).cast("long").alias("lost_tokens"),
        "n_seqs",
        (F.col("n_seqs") * _Q326_B - F.col("kept_tokens"))
        .cast("long")
        .alias("pad_tokens"),
        F.round(
            F.col("kept_tokens").cast("double") / (F.col("n_seqs") * _Q326_B),
            6,
        ).alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# q378 — mixing-temperature sweep: the alpha knob decision
# ---------------------------------------------------------------------------

_Q378_ALPHAS = (0.5, 0.7, 1.0)  # 0.7 == _Q315_A (production); 1.0 = raw


def _q378_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import temp_weight_sql

    o312 = QUERIES["q312_training_manifest"].oracle
    levels = "\n            UNION ALL\n".join(
        f"""            SELECT CAST({a} AS DOUBLE) AS alpha, source, n_shipped,
                   {temp_weight_sql('n_shipped', a)} AS w
            FROM pool"""
        for a in _Q378_ALPHAS
    )
    return f"""
        WITH ship AS MATERIALIZED (
            SELECT doc_id FROM ({o312}) WHERE ship
        ),
        pool AS (
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_shipped
            FROM ship JOIN documents d USING (doc_id) GROUP BY 1
        ),
        lv AS (
{levels}
        ),
        sh AS (
            SELECT alpha, source, n_shipped,
                   round(w / CAST(SUM(CAST(w AS DECIMAL(28,9)))
                         OVER (PARTITION BY alpha) AS DOUBLE), 6)
                       AS target_share,
                   w / CAST(SUM(CAST(w AS DECIMAL(28,9)))
                       OVER (PARTITION BY alpha) AS DOUBLE) AS raw_share
            FROM lv
        )
        SELECT alpha, source, n_shipped, target_share,
               round(MAX(raw_share) OVER (PARTITION BY alpha)
                     / MIN(raw_share) OVER (PARTITION BY alpha), 6)
                   AS flat_ratio
        FROM sh
    """


@query("q378_temperature_sweep", oracle=_q378_oracle())
def q378_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alpha knob, swept: temperature mixing (count^alpha) trades
    source diversity against data fidelity — alpha=1.0 trains
    proportionally (big sources dominate), lower alphas flatten the
    mixture (small sources upsample, repetition risk rises). Per
    (alpha in {_Q378_ALPHAS}, source): the target share the kernel
    would set over the SAME shipped pool q315 mixes, plus the
    per-alpha flattening ratio (max share / min share — 1.0 would be
    perfectly uniform). Production alpha {0.7} reproduces q342's
    target column exactly (pinned by test), so the sweep and the
    production audit cannot disagree; the flat_ratio column is
    monotone in alpha by the kernel's shape (tested) — the curve a
    mixture decision reads against q342's realized deviations and
    q334's epoch-repetition costs.

    Scale shape: the pool is a per-source aggregate; the sweep is a
    {len(_Q378_ALPHAS)}-way union of constant-sized relations; the
    share windows partition by alpha over sources-count rows."""
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        temp_weight_col,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    ship = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    pool = (
        ship.join(d, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shipped"))
        .localCheckpoint(eager=False)  # one pool feeds every alpha level
    )
    levels = [
        pool.select(
            F.lit(float(a)).alias("alpha"),
            "source",
            "n_shipped",
            temp_weight_col(F.col("n_shipped"), a).alias("w"),
        )
        for a in _Q378_ALPHAS
    ]
    lv = reduce(lambda x, y: x.unionAll(y), levels)
    wa = Window.partitionBy("alpha")
    # decimal-stable window sum (README rule): exact, order-independent
    raw_share = F.col("w") / (
        F.sum(F.col("w").cast("decimal(28,9)")).over(wa).cast("double")
    )
    sh = lv.select(
        "alpha", "source", "n_shipped",
        F.round(raw_share, 6).alias("target_share"),
        raw_share.alias("raw_share"),
    )
    return sh.select(
        "alpha",
        "source",
        "n_shipped",
        "target_share",
        F.round(
            F.max("raw_share").over(wa) / F.min("raw_share").over(wa), 6
        ).alias("flat_ratio"),
    )


# ---------------------------------------------------------------------------
# q379 — held-out leakage rate: the headline eval-contamination number
# ---------------------------------------------------------------------------


def _q379_oracle() -> str:
    from databricks_etl_spark.plans.queries_round5 import split_sql
    from databricks_etl_spark.plans.queries_round8 import _q318_chunks_sql
    from databricks_etl_spark.plans.queries_round9 import _q330_oracle

    return f"""
        WITH prs AS MATERIALIZED (SELECT * FROM ({_q330_oracle()})),
        lk0 AS (
            SELECT {split_sql('doc_a')} AS split, doc_a AS doc_id,
                   chunk_a AS chunk_idx
            FROM prs WHERE {split_sql('doc_b')} = 'train'
            UNION ALL
            SELECT {split_sql('doc_b')}, doc_b, chunk_b
            FROM prs WHERE {split_sql('doc_a')} = 'train'
        ),
        lk AS (
            SELECT DISTINCT split, doc_id, chunk_idx FROM lk0
            WHERE split <> 'train'
        ),
        {_q318_chunks_sql()},
        uni AS (
            SELECT {split_sql('doc_id')} AS split,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM chunks WHERE n_chunk_tokens >= 3
              AND {split_sql('doc_id')} <> 'train'
            GROUP BY 1
        ),
        lc AS (
            SELECT split, CAST(COUNT(*) AS BIGINT) AS n_leaked
            FROM lk GROUP BY 1
        )
        SELECT u.split, u.n_chunks,
               COALESCE(lc.n_leaked, 0) AS n_leaked,
               round(COALESCE(lc.n_leaked, 0)
                     / CAST(u.n_chunks AS DOUBLE), 6) AS leak_rate
        FROM uni u LEFT JOIN lc ON u.split = lc.split
    """


@query("q379_heldout_leak_rate", oracle=_q379_oracle())
def q379_heldout_leak_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE eval-contamination headline: what fraction of each
    held-out split's chunks has a near-verbatim TRAIN twin. q337
    emits the full (split x split) pair matrix; a release review asks
    one number per held-out split, at CHUNK grain (distinct leaked
    chunks, not pair multiplicity — one train twin taints a chunk
    the same as five). Numerator: q330's banding-certified near-dup
    pairs with a train side, rolled to distinct held-out chunks;
    denominator: the same chunk universe the banding indexes (>= 3
    tokens, q318's stream), split by q234's portable rule. Sources
    with no leaks report 0 (grid is the denominator side).

    Scale shape: the numerator rides q330's bounded pair output; the
    denominator is one split-keyed count over the chunk stream; both
    rollups are 2-row relations at the end."""
    from databricks_etl_spark.operators.text import chunk_tokens
    from databricks_etl_spark.plans.queries_round5 import split_col
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W
    from databricks_etl_spark.plans.queries_round9 import (
        q330_chunk_minhash_neardup,
    )

    prs = q330_chunk_minhash_neardup(spark, sf_dir)
    a_side = prs.filter(split_col("doc_b") == "train").select(
        split_col("doc_a").alias("split"),
        F.col("doc_a").alias("doc_id"),
        F.col("chunk_a").alias("chunk_idx"),
    )
    b_side = prs.filter(split_col("doc_a") == "train").select(
        split_col("doc_b").alias("split"),
        F.col("doc_b").alias("doc_id"),
        F.col("chunk_b").alias("chunk_idx"),
    )
    lk = (
        a_side.unionAll(b_side)
        .filter(F.col("split") != "train")
        .distinct()
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked"))
    )
    d = read_table(spark, sf_dir, "documents")
    uni = (
        chunk_tokens(d, _Q318_W, _Q318_S)
        .filter(F.col("n_chunk_tokens") >= 3)
        .select(split_col("doc_id").alias("split"))
        .filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    )
    return uni.join(lk, "split", "left").select(
        "split",
        "n_chunks",
        F.coalesce("n_leaked", F.lit(0)).cast("long").alias("n_leaked"),
        F.round(
            F.coalesce("n_leaked", F.lit(0)) / F.col("n_chunks").cast("double"),
            6,
        ).alias("leak_rate"),
    )


# ---------------------------------------------------------------------------
# q380 — prefetch working-set sizing over checkpoint windows
# ---------------------------------------------------------------------------

_Q380_SHKEY = 10_000_000  # packed (eclass, shard) key base


def _q380_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_SEQNS,
        _q326_oracle,
    )

    return f"""
        WITH st AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        seqs AS (
            SELECT DISTINCT epoch, step,
                   (seq_id % 8) * {_Q380_SHKEY}
                       + (seq_id // 8) // {_Q326_SEQNS} AS shkey
            FROM st
        ),
        w AS (
            SELECT epoch, (step - 1) // {_Q351_K} AS win,
                   CAST(COUNT(DISTINCT shkey) AS BIGINT) AS n_shards
            FROM seqs GROUP BY 1, 2
        ),
        tot AS (
            SELECT epoch, CAST(COUNT(DISTINCT shkey) AS BIGINT) AS t
            FROM seqs GROUP BY 1
        )
        SELECT w.epoch,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(MAX(w.n_shards) AS BIGINT) AS max_shards_per_window,
               round(CAST(SUM(w.n_shards) AS DOUBLE) / COUNT(*), 6)
                   AS mean_shards_per_window,
               MIN(tot.t) AS total_shards
        FROM w JOIN tot ON w.epoch = tot.epoch
        GROUP BY 1
    """


@query("q380_prefetch_working_set", oracle=_q380_oracle())
def q380_prefetch_working_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many shard files must be RESIDENT while a training run
    works through one checkpoint window? q358 shows the shuffle
    scatters each shard across the whole epoch (span_frac ~ 1); the
    serving consequence is quantified here: per epoch, the distinct
    (eclass, shard) files touched within each {_Q351_K}-step window —
    max and mean over windows, against the epoch's total shard count.
    max == total says the prefetch cache must hold EVERY shard all
    epoch (the shuffled-order cost a node's memory budget pays);
    windows aligned with q351's checkpoint ledger so the cache plan
    and the resume plan share a unit.

    Scale shape: one DISTINCT on the stream with the shard decoded by
    integer arithmetic into a packed key (eclass < 8, shard < 1e6 —
    documented bounds, exact decode), a (epoch x window) grouped
    distinct-count, then epoch-level scalars."""
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_SEQNS,
        q326_dataloader_order,
    )

    seqs = (
        q326_dataloader_order(spark, sf_dir)
        .select(
            "epoch",
            "step",
            (
                (F.col("seq_id") % 8) * _Q380_SHKEY
                + F.expr(f"(seq_id DIV 8) DIV {_Q326_SEQNS}")
            ).alias("shkey"),
        )
        .distinct()
    )
    w = (
        seqs.withColumn("win", F.expr(f"(step - 1) DIV {_Q351_K}"))
        .groupBy("epoch", "win")
        .agg(F.countDistinct("shkey").cast("long").alias("n_shards"))
    )
    tot = seqs.groupBy("epoch").agg(
        F.countDistinct("shkey").cast("long").alias("t")
    )
    return (
        w.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.max("n_shards").cast("long").alias("max_shards_per_window"),
            F.round(
                F.sum("n_shards").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_shards_per_window"),
        )
        .join(F.broadcast(tot), "epoch")
        .select(
            "epoch",
            "n_windows",
            "max_shards_per_window",
            "mean_shards_per_window",
            F.col("t").alias("total_shards"),
        )
    )


# ---------------------------------------------------------------------------
# q381 — release datasheet v2: the round's per-source audits, one relation
# ---------------------------------------------------------------------------


def _q381_oracle() -> str:
    o371 = QUERIES["q371_truncation_loss_audit"].oracle
    o355 = QUERIES["q355_repetition_spectrum"].oracle
    o350 = QUERIES["q350_cluster_retention_report"].oracle
    o364 = QUERIES["q364_eval_ngram_novelty"].oracle
    o373 = QUERIES["q373_retrieval_source_bias"].oracle
    return f"""
        WITH tr AS MATERIALIZED (
            SELECT source, n_docs, loss_frac FROM ({o371})
        ),
        rep AS MATERIALIZED (
            SELECT source,
                   round(SUM(CASE WHEN bucket = 'heavy'
                                  THEN n_occurrences ELSE 0 END)
                         / CAST(SUM(n_occurrences) AS DOUBLE), 6)
                       AS heavy_share
            FROM ({o355}) GROUP BY 1
        ),
        ret AS MATERIALIZED (
            SELECT source, n_dropped, tokens_dropped FROM ({o350})
        ),
        nv AS MATERIALIZED (
            SELECT source, novelty AS eval_novelty FROM ({o364})
        ),
        rb AS MATERIALIZED (
            SELECT source, bias AS retrieval_bias FROM ({o373})
        )
        SELECT tr.source, tr.n_docs, tr.loss_frac,
               COALESCE(rep.heavy_share, 0.0) + 0.0 AS heavy_share,
               ret.n_dropped AS dedup_dropped,
               ret.tokens_dropped AS dedup_tokens_dropped,
               nv.eval_novelty, rb.retrieval_bias
        FROM tr
        JOIN ret ON tr.source = ret.source
        JOIN nv ON tr.source = nv.source
        JOIN rb ON tr.source = rb.source
        LEFT JOIN rep ON tr.source = rep.source
    """


@query("q381_release_datasheet_v2", oracle=_q381_oracle())
def q381_release_datasheet_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's per-source audits folded into ONE release relation
    — q339's datasheet discipline applied to the new lanes: shipped
    docs and truncation loss (q371), the heavy-repetition occurrence
    share (q355's memorization flag), quality-retention drops (q350),
    eval n-gram novelty (q364) and retrieval bias (q373). Every
    column is a REGISTERED query's own relation joined on the bounded
    source key, so the datasheet can never disagree with the lanes it
    cites; this is the one table a data-release review reads before
    sign-off, with each number's full-audit provenance one query
    away.

    Scale shape: five source-keyed aggregates (each lane's own cost),
    one bounded join chain — sources-count rows end to end."""
    shv = (
        q355_repetition_spectrum(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("bucket") == "heavy", F.col("n_occurrences")
                    ).otherwise(0)
                )
                / F.sum("n_occurrences").cast("double"),
                6,
            ).alias("heavy_share")
        )
    )
    tr = q371_truncation_loss_audit(spark, sf_dir).select(
        "source", "n_docs", "loss_frac"
    )
    ret = q350_cluster_retention_report(spark, sf_dir).select(
        "source",
        F.col("n_dropped").alias("dedup_dropped"),
        F.col("tokens_dropped").alias("dedup_tokens_dropped"),
    )
    nv = q364_eval_ngram_novelty(spark, sf_dir).select(
        "source", F.col("novelty").alias("eval_novelty")
    )
    rb = q373_retrieval_source_bias(spark, sf_dir).select(
        "source", F.col("bias").alias("retrieval_bias")
    )
    return (
        tr.join(ret, "source")
        .join(nv, "source")
        .join(rb, "source")
        .join(shv, "source", "left")
        .select(
            "source",
            "n_docs",
            "loss_frac",
            (F.coalesce("heavy_share", F.lit(0.0)) + F.lit(0.0)).alias(
                "heavy_share"
            ),
            "dedup_dropped",
            "dedup_tokens_dropped",
            "eval_novelty",
            "retrieval_bias",
        )
    )
