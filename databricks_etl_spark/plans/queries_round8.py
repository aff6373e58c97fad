r"""Round-8 queries: the training-set manifest capstone (ONE per-doc
ship/no-ship verdict composing the round-7 decontamination / SemDeDup /
multimodal / quality / drift lanes), the sequence-packing planner that
FIXES the padding waste q291 measures, temperature-weighted source
mixing, a product-quantization audit, and chunk-level contamination
(VERDICT r7 #2/#3/#4/#5/#7).

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) have no training-data machinery at all;
these extend the engine's north-star LLM-data surface (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.operators import text as TX
from databricks_etl_spark.plans.registry import QUERIES, query
from databricks_etl_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# q312 — training-set manifest capstone (ship/no-ship per document)
# ---------------------------------------------------------------------------

_Q312_QUALITY_MIN = 0.5  # composite quality-score ship floor
_Q312_PSI_MAX = 0.25  # corpus-level vocab-drift alarm (PSI >= 0.25 holds)


def _q312_oracle() -> str:
    """The manifest oracle literally embeds the component queries'
    own (already driver-green) oracle SQL as subqueries — the deepest
    form of "every input is oracled": the composition can never drift
    from the lanes it claims to compose. DuckDB scopes each nested
    WITH to its subquery, so CTE names never collide."""
    from databricks_etl_spark.plans.queries_round7 import _quality_sql

    o283 = QUERIES["q283_exact_contamination_pairs"].oracle
    o285 = QUERIES["q285_semdedup_fixed_centroids"].oracle
    o309 = QUERIES["q309_multimodal_dedup_verdict"].oracle
    o311 = QUERIES["q311_vocab_drift"].oracle
    return f"""
        WITH {_quality_sql()},
        hit AS (SELECT DISTINCT doc_id FROM ({o283})),
        sem AS (SELECT vec_id, pruned FROM ({o285})),
        mm AS (SELECT doc_id, any_dup FROM ({o309})),
        gate AS (SELECT DISTINCT psi_total FROM ({o311}))
        SELECT c.doc_id,
               (hit.doc_id IS NOT NULL) AS contaminated,
               COALESCE(sem.pruned, FALSE) AS sem_dup,
               COALESCE(mm.any_dup, FALSE) AS multimodal_dup,
               q.quality_score,
               COALESCE(q.quality_score >= {_Q312_QUALITY_MIN}, FALSE)
                   AS quality_ok,
               (gate.psi_total < {_Q312_PSI_MAX}) AS drift_gate_ok,
               (hit.doc_id IS NULL
                AND NOT COALESCE(sem.pruned, FALSE)
                AND NOT COALESCE(mm.any_dup, FALSE)
                AND COALESCE(q.quality_score >= {_Q312_QUALITY_MIN}, FALSE)
                AND gate.psi_total < {_Q312_PSI_MAX}) AS ship
        FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) c
        LEFT JOIN hit ON c.doc_id = hit.doc_id
        LEFT JOIN sem ON c.doc_id = sem.vec_id
        LEFT JOIN mm ON c.doc_id = mm.doc_id
        LEFT JOIN q ON c.doc_id = q.doc_id
        CROSS JOIN gate
    """


@query("q312_training_manifest", oracle=None, bench=True)  # oracle set below
def q312_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-of-record manifest a 100 TB training run actually
    emits: ONE row per corpus document (benchmark docs, doc_id % 50
    == 0, never ship by construction) with every gate the round-7
    lanes established — exact-substring benchmark contamination
    (q283), SemDeDup semantic-duplicate prune verdict (q285),
    cross-modal duplicate verdict (q309; docs without payloads are
    clean by definition), the composite quality floor (q84/q258's
    score >= 0.5), and the corpus-level vocabulary-drift circuit
    breaker (q311's PSI < 0.25, one broadcast scalar) — folded into a
    final ``ship`` boolean. Composition is by CALLING the registered
    component queries, so the manifest can never drift from the lanes
    it audits; each component is individually driver-green, and the
    oracle embeds their oracle SQL verbatim as subqueries. Plan:
    every join is keyed on doc_id (the gate is a 1-row broadcast);
    component costs dominate, the composition itself adds only
    doc-count-sized hash joins."""
    from databricks_etl_spark.plans.queries_round7 import (
        q283_exact_contamination_pairs,
        q285_semdedup_fixed_centroids,
        q309_multimodal_dedup_verdict,
        q311_vocab_drift,
    )

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter((F.col("doc_id") % 50) != 0).select("doc_id")
    cont = (
        q283_exact_contamination_pairs(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    sem = q285_semdedup_fixed_centroids(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("pruned").alias("__sem")
    )
    mm = q309_multimodal_dedup_verdict(spark, sf_dir).select(
        "doc_id", F.col("any_dup").alias("__mm")
    )
    qual = TX.quality_features(d).select("doc_id", "quality_score")
    gate = q311_vocab_drift(spark, sf_dir).select("psi_total").distinct()

    contaminated = F.coalesce(F.col("__hit"), F.lit(False))
    sem_dup = F.coalesce(F.col("__sem"), F.lit(False))
    multimodal_dup = F.coalesce(F.col("__mm"), F.lit(False))
    quality_ok = F.coalesce(
        F.col("quality_score") >= _Q312_QUALITY_MIN, F.lit(False)
    )
    drift_ok = F.col("psi_total") < _Q312_PSI_MAX
    return (
        corpus.join(cont, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .join(mm, "doc_id", "left")
        .join(qual, "doc_id", "left")
        .crossJoin(F.broadcast(gate))
        .select(
            "doc_id",
            contaminated.alias("contaminated"),
            sem_dup.alias("sem_dup"),
            multimodal_dup.alias("multimodal_dup"),
            "quality_score",
            quality_ok.alias("quality_ok"),
            drift_ok.alias("drift_gate_ok"),
            (
                ~contaminated
                & ~sem_dup
                & ~multimodal_dup
                & quality_ok
                & drift_ok
            ).alias("ship"),
        )
    )


from dataclasses import replace as _replace  # noqa: E402

QUERIES["q312_training_manifest"] = _replace(
    QUERIES["q312_training_manifest"], oracle=_q312_oracle()
)


# ---------------------------------------------------------------------------
# q313/q314 — sequence-packing planner (fixes the waste q291 measures)
# ---------------------------------------------------------------------------

_Q313_B = 256  # token budget per training sequence
_Q313_P = 128  # planning-shard size (docs per independent FFD fold)

# first index of a residual bin that fits the item, else NULL — the
# first-fit probe, shared across every recursive-term use below
_Q313_FIT = "list_filter(range(1, len(p.res) + 1), jj -> p.res[jj] >= i.len)[1]"


def _ffd_oracle(items: str, budget: int = _Q313_B, shard: int = _Q313_P) -> str:
    """The per-shard simultaneous recursive-CTE FFD, parameterized by
    an ``items`` SELECT yielding (doc_id, len) — q313 packs whitespace
    token counts, q329 re-packs on subword lengths through the SAME
    placement logic. ``t`` and ``it`` are MATERIALIZED: the recursive
    term re-joins ``it`` every iteration, and DuckDB would otherwise
    inline (re-evaluate) the whole items subquery per step."""
    return f"""
        WITH RECURSIVE
        t AS MATERIALIZED (SELECT doc_id, least(len, {budget}) AS len
              FROM ({items})),
        sc AS (SELECT CAST(ceil(COUNT(*) / {shard}.0) AS BIGINT) AS s
               FROM t),
        it AS MATERIALIZED (
            SELECT doc_id, len, doc_id % sc.s AS shard,
                   row_number() OVER (PARTITION BY doc_id % sc.s
                                      ORDER BY len DESC, doc_id) AS k
            FROM t, sc
        ),
        pack AS (
            SELECT shard, CAST(0 AS BIGINT) AS k,
                   CAST([] AS BIGINT[]) AS res,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS bin,
                   CAST(NULL AS BIGINT) AS off
            FROM (SELECT DISTINCT shard FROM it)
            UNION ALL
            SELECT i.shard, i.k,
                   CASE WHEN {_Q313_FIT} IS NULL
                        THEN list_append(p.res, {budget} - i.len)
                        ELSE list_transform(range(1, len(p.res) + 1),
                             jj -> CASE WHEN jj = {_Q313_FIT}
                                        THEN p.res[jj] - i.len
                                        ELSE p.res[jj] END)
                   END,
                   i.doc_id,
                   COALESCE({_Q313_FIT}, len(p.res) + 1),
                   CASE WHEN {_Q313_FIT} IS NULL THEN 0
                        ELSE {budget} - p.res[{_Q313_FIT}]
                   END
            FROM pack p JOIN it i ON i.shard = p.shard AND i.k = p.k + 1
        )
        SELECT p.doc_id,
               CAST(p.shard * 1000000 + p.bin AS BIGINT) AS seq_id,
               CAST(p.off AS BIGINT) AS seq_offset,
               CAST(i.len AS BIGINT) AS n_tokens
        FROM pack p JOIN it i ON p.shard = i.shard AND p.k = i.k
        WHERE p.k >= 1
    """


def _q313_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS

    return _ffd_oracle(
        f"SELECT doc_id, {_Q291_TOKS} AS len FROM documents"
    )


@query("q313_sequence_packing", oracle=None, bench=True)  # oracle set below
def q313_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequence-packing PLANNER that fixes the padding waste q291
    measures: first-fit-decreasing bin-packing of documents into
    fixed-256-token training sequences, emitting (doc_id, seq_id,
    seq_offset, n_tokens). FFD runs inside ~128-doc planning shards
    (``doc_id % S``) that pack independently — the parallel-at-100TB
    compromise (a single global FFD fold would serialize the cluster;
    the waste bound degrades by <= 1 partial sequence per shard) —
    with the stated (length DESC, doc_id ASC) total order inside each
    shard, so the placement is deterministic on any partitioning. The
    fold itself is the sanctioned Arrow-batched ``applyInPandas``
    case (operators/packing.py); the oracle states the identical
    placement with a per-shard simultaneous recursive CTE carrying
    each shard's residual list."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokens_col("text")).cast("long").alias("len"))
    return ffd_pack(t, _Q313_B, _Q313_P)


QUERIES["q313_sequence_packing"] = _replace(
    QUERIES["q313_sequence_packing"], oracle=_q313_oracle()
)


@query("q314_packing_efficiency", oracle=None)  # oracle set below
def q314_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-efficiency audit closing q291's loop: ONE row
    comparing the FFD plan's realized waste (padding = unfilled
    capacity across its sequences) against q291's single-bucket
    pad-to-max baseline — the before/after a dataloader change ships
    with. Composes the two registered queries (q313 placements, q291
    baseline) so the audit can never drift from the plans it scores;
    integer sums, two non-negative 6dp ratios."""
    from databricks_etl_spark.plans.queries_round7 import (
        q291_padding_waste_audit,
    )

    p = q313_sequence_packing(spark, sf_dir)
    agg = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("seq_id").cast("long").alias("n_seqs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    ).select(
        F.lit(_Q313_B).cast("long").alias("budget"),
        "n_docs",
        "n_seqs",
        "total_tokens",
        F.round(
            (F.col("n_seqs") * _Q313_B - F.col("total_tokens")).cast("double")
            / (F.col("n_seqs") * _Q313_B),
            6,
        ).alias("packed_waste_ratio"),
    )
    base = (
        q291_padding_waste_audit(spark, sf_dir)
        .filter(F.col("n_buckets_cfg") == 1)
        .select(F.col("waste_ratio").alias("baseline_waste_ratio"))
    )
    return agg.crossJoin(F.broadcast(base))


def _q314_oracle() -> str:
    o313 = _q313_oracle()
    o291 = QUERIES["q291_padding_waste_audit"].oracle
    return f"""
        WITH p AS (SELECT * FROM ({o313})),
        agg AS (
            SELECT CAST({_Q313_B} AS BIGINT) AS budget,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM p
        )
        SELECT a.budget, a.n_docs, a.n_seqs, a.total_tokens,
               round(CAST(a.n_seqs * {_Q313_B} - a.total_tokens AS DOUBLE)
                     / (a.n_seqs * {_Q313_B}), 6) AS packed_waste_ratio,
               b.waste_ratio AS baseline_waste_ratio
        FROM agg a
        CROSS JOIN (SELECT waste_ratio FROM ({o291})
                    WHERE n_buckets_cfg = 1) b
    """


QUERIES["q314_packing_efficiency"] = _replace(
    QUERIES["q314_packing_efficiency"], oracle=_q314_oracle()
)


# ---------------------------------------------------------------------------
# q315 — temperature-weighted multilingual source mixing (alpha = 0.7)
# ---------------------------------------------------------------------------

_Q315_N = 200  # total mixture size
_Q315_A = 0.7  # temperature exponent (the multilingual-mixing rule)


def temp_weight_sql(n: str, alpha: float | None = None) -> str:
    """count^alpha temperature weight — the q315 mixing kernel as an
    ANSI-SQL fragment. THE single source of the exponent rule; q315's
    own oracle and q342's realized-mixture audit (queries_round10)
    both embed it so the rule cannot drift per-query (the
    split_sql/split_col sharing pattern). Twin of
    :func:`temp_weight_col`; keep the two in lockstep. ``alpha``
    overrides the exponent (None = the production {_Q315_A};
    queries_round10's q378 sweeps it)."""
    a = _Q315_A if alpha is None else alpha
    return f"pow(CAST({n} AS DOUBLE), {a})"


def temp_weight_col(n, alpha: float | None = None) -> F.Column:
    """Spark twin of :func:`temp_weight_sql`."""
    return F.pow(n.cast("double"), _Q315_A if alpha is None else alpha)


@query(
    "q315_temperature_mixed_sample",
    oracle=f"""
        WITH s AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        ),
        w AS (
            SELECT lang, n_docs,
                   {temp_weight_sql('n_docs')} AS wt
            FROM s
        ),
        tot AS (SELECT SUM(wt) AS tw FROM w),
        alloc AS (
            SELECT lang, round(wt / tw, 6) AS target_share,
                   CAST(floor({_Q315_N} * round(wt / tw, 6)) AS BIGINT)
                       AS quota
            FROM w, tot
        ),
        u AS (
            SELECT doc_id, lang,
                   (CAST((doc_id % 1000000007) * 48271 % 1000000007
                         AS DOUBLE) + 1.0) / 1000000008.0 AS uk
            FROM documents
        ),
        r AS (
            SELECT u.lang, u.doc_id, a.target_share, a.quota,
                   row_number() OVER (
                       PARTITION BY u.lang ORDER BY uk DESC, doc_id
                   ) AS rank
            FROM u JOIN alloc a USING (lang)
        )
        SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank, target_share
        FROM r WHERE rank <= {_Q315_N} AND rank <= quota
    """,
)
def q315_temperature_mixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted multilingual mixing, the alpha = 0.7 rule
    every multilingual pretraining recipe applies: per-language quotas
    proportional to count^0.7 (upsampling the tail languages relative
    to raw frequency — en dominates raw counts but not the mixture),
    filled by a deterministic uniform sample (q297's MINSTD key
    discipline, so the drawn set is reproducible on any engine /
    partitioning). Quotas are floor(N x share) with the share rounded
    to 6dp FIRST on both engines, which pins the float boundary; the
    oracle states the exact expected proportions. The literal
    rank <= {_Q315_N} bound keeps the per-language window map-side
    group-limited before the data-dependent quota filter applies."""
    d = read_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = s.select("lang", temp_weight_col(F.col("n_docs")).alias("wt"))
    tot = w.agg(F.sum("wt").alias("tw"))
    share = F.round(F.col("wt") / F.col("tw"), 6)
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        share.alias("target_share"),
        F.floor(_Q315_N * share).cast("long").alias("quota"),
    )
    uk = (
        (F.col("doc_id") % 1000000007) * 48271 % 1000000007
    ).cast("double") + 1.0
    u = d.select("doc_id", "lang", (uk / 1000000008.0).alias("uk"))
    r = u.join(F.broadcast(alloc), "lang").withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("uk"), F.asc("doc_id"))
        ),
    )
    return r.filter(
        (F.col("rank") <= _Q315_N) & (F.col("rank") <= F.col("quota"))
    ).select("lang", "doc_id", F.col("rank").cast("long").alias("rank"), "target_share")


# ---------------------------------------------------------------------------
# q316/q317 — product-quantization audit + ANN recall impact
# ---------------------------------------------------------------------------

_Q316_M = 8  # subspaces
_Q316_K = 16  # codewords per subspace
_Q316_SUB = 8  # dims per subspace (8 x 8 = the 64-dim embeddings)

# Deterministic literal codebooks (q285's fixed-centroid pattern): a
# shifted-ramp lattice over the embeddings' observed value range
# (~[-0.5, 0.5]); every value is an exact binary double (halves / 16),
# so the literals cannot drift between engines.
_Q316_CB: list[list[list[float]]] = [
    [
        [(((k * 3 + j * 5 + m * 7) % 16) - 7.5) / 16.0 for j in range(_Q316_SUB)]
        for k in range(_Q316_K)
    ]
    for m in range(_Q316_M)
]


def _q316_chain() -> str:
    """Shared oracle CTE chain: codebooks, per-subspace argmin
    assignment, reconstruction, and per-vector cosine fidelity."""
    vals = ", ".join(
        f"({m}, {k}, {_Q316_CB[m][k]})"
        for m in range(_Q316_M)
        for k in range(_Q316_K)
    )
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    sim = (
        f"round({_dot_sql('e.embedding', 'r.rv')}"
        f" / (sqrt({_dot_sql('e.embedding', 'e.embedding')})"
        f" * sqrt({_dot_sql('r.rv', 'r.rv')})), 6)"
    )
    return f"""cb(m, k, cw) AS (VALUES {vals}),
        sub AS (
            SELECT vec_id, m,
                   list_slice(embedding, m * {_Q316_SUB} + 1,
                              m * {_Q316_SUB} + {_Q316_SUB}) AS sv
            FROM embeddings,
                 (SELECT unnest(range(0, {_Q316_M})) AS m)
        ),
        dists AS (
            SELECT vec_id, m, k, cw,
                   list_sum(list_transform(range(1, {_Q316_SUB} + 1),
                       j -> (CAST(sv[j] AS DOUBLE) - cw[j])
                            * (CAST(sv[j] AS DOUBLE) - cw[j]))) AS d2
            FROM sub JOIN cb USING (m)
        ),
        chosen AS (
            SELECT vec_id, m, k, cw FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, m ORDER BY d2, k) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        rec AS (
            SELECT vec_id, flatten(list(cw ORDER BY m)) AS rv
            FROM chosen GROUP BY 1
        ),
        fid AS (
            SELECT e.vec_id, {sim} + 0.0 AS sim
            FROM embeddings e JOIN rec r ON e.vec_id = r.vec_id
        )"""


@query("q316_pq_audit", oracle=None)  # oracle set below
def q316_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization fidelity audit — the other half of the ANN
    memory story next to q288's int8 lane: encode every 64-dim
    embedding as 8 sub-codes from fixed 16-entry literal codebooks
    (8 bytes per vector, a 32x compression), reconstruct, and report
    ONE row: vectors audited, distinct codewords actually used (the
    codebook-utilization signal that catches a dead lattice), and the
    mean / min cosine between original and reconstruction. Per-vector
    cosines round to 6dp then decimal-sum (the README discipline);
    the argmin and fold shapes are q285's, so the DuckDB oracle
    states the identical encoding."""
    from databricks_etl_spark.operators.similarity import (
        cosine,
        pq_assign,
        pq_reconstruct,
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
    asg = pq_assign(e, cb, _Q316_M, _Q316_SUB)
    rec = pq_reconstruct(asg)
    fid = e.join(rec, "vec_id").select(
        "vec_id",
        (
            F.round(cosine(F.col("embedding"), F.col("reconstructed")), 6)
            + F.lit(0.0)
        ).alias("sim"),
    )
    used = (
        asg.select("m", "k")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("codes_used"))
    )
    n = F.count(F.lit(1))
    stats = fid.agg(
        n.cast("long").alias("n_vectors"),
        (
            F.round(F.sum(F.col("sim").cast("decimal(18,6)")).cast("double") / n, 6)
            + F.lit(0.0)
        ).alias("mean_cosine_fidelity"),
        (F.min("sim") + F.lit(0.0)).alias("min_cosine_fidelity"),
    )
    return stats.crossJoin(F.broadcast(used)).select(
        "n_vectors",
        "codes_used",
        F.round(F.col("codes_used") / float(_Q316_M * _Q316_K), 6).alias(
            "utilization"
        ),
        "mean_cosine_fidelity",
        "min_cosine_fidelity",
    )


def _q316_oracle() -> str:
    return f"""
        WITH {_q316_chain()}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT DISTINCT m, k FROM chosen)) AS codes_used,
               round((SELECT COUNT(*)
                      FROM (SELECT DISTINCT m, k FROM chosen))
                     / {float(_Q316_M * _Q316_K)}, 6) AS utilization,
               round(CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) + 0.0 AS mean_cosine_fidelity,
               MIN(sim) + 0.0 AS min_cosine_fidelity
        FROM fid
    """


QUERIES["q316_pq_audit"] = _replace(
    QUERIES["q316_pq_audit"], oracle=_q316_oracle()
)


@query("q317_pq_recall_impact", oracle=None)  # oracle set below
def q317_pq_recall_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What PQ compression costs in retrieval quality, measured the
    q310 way: rank the corpus for each of the 20 query vectors by
    asymmetric distance (exact query vs PQ-reconstructed corpus),
    score top-10 against the exact brute-force truth, and emit ONE
    row joining pq_recall_at_10 / pq_top1_recall with q310's
    cell-probe recall — the side-by-side an index-tuning decision
    reads. Composes the registered q310 metrics (broadcast 1-row) so
    the comparison can never drift."""
    from databricks_etl_spark.operators.similarity import (
        norm,
        paired_cosine,
        pq_assign,
        pq_reconstruct,
    )
    from databricks_etl_spark.plans.queries_round7 import q310_ann_recall_mrr

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
    exact = (
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
    approx = (
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

    def top10(df):
        w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("qid", "nid", "rk")
        )

    truth, pq = top10(exact), top10(approx)
    hits = (
        truth.alias("t")
        .join(
            pq.alias("a"),
            (F.col("t.qid") == F.col("a.qid")) & (F.col("t.nid") == F.col("a.nid")),
            "left",
        )
        .groupBy(F.col("t.qid").alias("qid"))
        .agg(
            F.count(F.col("a.nid")).cast("long").alias("n_hit"),
            F.min(
                F.when(
                    (F.col("t.rk") == 1) & F.col("a.nid").isNotNull(), 1.0
                )
            ).alias("top1_found"),
        )
    )
    per = hits.select(
        "qid",
        F.round(F.col("n_hit") / 10.0, 6).cast("decimal(18,9)").alias("recall10"),
        F.coalesce(F.col("top1_found"), F.lit(0.0))
        .cast("decimal(18,9)")
        .alias("top1"),
    )
    n = F.count(F.lit(1))
    agg = per.agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("recall10").cast("double") / n, 6).alias("pq_recall_at_10"),
        F.round(F.sum("top1").cast("double") / n, 6).alias("pq_top1_recall"),
    )
    cell = q310_ann_recall_mrr(spark, sf_dir).select(
        F.col("mean_recall_at_10").alias("cell_recall_at_10")
    )
    return agg.crossJoin(F.broadcast(cell))


def _q317_oracle() -> str:
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    o310 = QUERIES["q310_ann_recall_mrr"].oracle
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
        approx AS (
            SELECT qid, nid FROM (
                SELECT qid, nid, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, nid) AS rk
                FROM sa
            ) WHERE rk <= 10
        ),
        hits AS (
            SELECT t.qid,
                   CAST(COUNT(a.nid) AS BIGINT) AS n_hit,
                   MIN(CASE WHEN t.rk = 1 AND a.nid IS NOT NULL
                            THEN 1.0 END) AS top1_found
            FROM truth t
            LEFT JOIN approx a ON t.qid = a.qid AND t.nid = a.nid
            GROUP BY t.qid
        ),
        per AS (
            SELECT qid,
                   CAST(round(n_hit / 10.0, 6) AS DECIMAL(18,9)) AS recall10,
                   CAST(COALESCE(top1_found, 0.0) AS DECIMAL(18,9)) AS top1
            FROM hits
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(recall10) AS DOUBLE) / COUNT(*), 6)
                   AS pq_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS pq_top1_recall,
               (SELECT mean_recall_at_10 FROM ({o310}))
                   AS cell_recall_at_10
        FROM per
    """


QUERIES["q317_pq_recall_impact"] = _replace(
    QUERIES["q317_pq_recall_impact"], oracle=_q317_oracle()
)


# ---------------------------------------------------------------------------
# q318/q319 — long-document chunking + chunk-level contamination
# ---------------------------------------------------------------------------

_Q318_W = 64  # chunk window (tokens)
_Q318_S = 32  # chunk stride (tokens) — 50% overlap

_Q318_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


def _q318_chunks_sql(where: str = "") -> str:
    """Shared chunking CTE chain (t, st, chunks) over ``documents``."""
    return f"""t AS (
            SELECT doc_id, {_Q318_TOKS} AS toks FROM documents {where}
        ),
        st AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {_Q318_S})) AS p
            FROM t
        ),
        chunks AS (
            SELECT doc_id,
                   CAST(p // {_Q318_S} AS BIGINT) AS chunk_idx,
                   CAST(p AS BIGINT) AS chunk_start_token,
                   CAST(len(list_slice(toks, p + 1, p + {_Q318_W}))
                        AS BIGINT) AS n_chunk_tokens,
                   array_to_string(list_slice(toks, p + 1, p + {_Q318_W}),
                                   ' ') AS chunk_text
            FROM st
        )"""


@query(
    "q318_document_chunking",
    oracle=f"""
        WITH {_q318_chunks_sql()}
        SELECT doc_id, chunk_idx, chunk_start_token, n_chunk_tokens,
               chunk_text
        FROM chunks
    """,
)
def q318_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document handling: split every document into overlapping
    64-token windows at stride 32 with stable (doc_id, chunk_idx) ids
    — the pre-embedding step every RAG / pretraining pipeline runs
    (the chunk stream is what feeds the embedding, packing q313 and
    ANN lanes at scale). Map-side only: sequence + explode + slice,
    zero shuffle; chunk text is the canonical case-folded token
    stream re-joined, so every downstream text lane sees one
    normalization."""
    from databricks_etl_spark.operators.text import chunk_tokens

    d = read_table(spark, sf_dir, "documents")
    return chunk_tokens(d, _Q318_W, _Q318_S)


@query("q319_chunk_contamination", oracle=None)  # oracle set below
def q319_chunk_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination at CHUNK granularity: q283
    reports which training DOC contains a verbatim benchmark span;
    this composes the chunking lane (q318) with the same stride-gram
    machinery so the hit names the chunk — what a pipeline actually
    drops or masks (killing a whole 100-page doc for one contaminated
    paragraph wastes data). Benchmark side is case-folded to the
    chunk stream's normalization; the 32-token overlap guarantees any
    span that fits a chunk window is seen whole by some chunk. Same
    broadcast-bench / map-side corpus-gram shape as q283 — zero
    corpus-text shuffle. The bench side is whitespace-collapsed to the
    SAME normalization the chunk stream applies (tokens re-joined with
    single spaces), so a benchmark span containing a whitespace run is
    still caught at chunk level; the composite chunk key is a string
    concat (collision-free at any chunk count, unlike an integer
    pack)."""
    from databricks_etl_spark.operators.text import (
        chunk_tokens,
        exact_substring_hits,
    )
    from databricks_etl_spark.plans.queries_round7 import _XL, _XS

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    chunks = chunk_tokens(corpus, _Q318_W, _Q318_S).select(
        F.concat_ws(":", "doc_id", "chunk_idx").alias("ckey"),
        F.col("chunk_text").alias("text"),
    )
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "text"
        ),
    )
    hits = exact_substring_hits(
        chunks, bench, length=_XL, stride=_XS, corpus_id="ckey"
    )
    k = F.split(F.col("ckey"), ":")
    return hits.select(
        k.getItem(0).cast("long").alias("doc_id"),
        k.getItem(1).cast("long").alias("chunk_idx"),
        "bench_id",
        "n_grams_hit",
    )


def _q319_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _XL, _XS

    return f"""
        WITH {_q318_chunks_sql("WHERE doc_id % 50 != 0")},
        cg AS (
            SELECT doc_id, chunk_idx,
                   unnest(list_distinct(list_transform(
                       range(1, length(chunk_text) - {_XL - 2}, {_XS}),
                       i -> substr(chunk_text, CAST(i AS INT), {_XL}))))
                       AS gram
            FROM chunks WHERE length(chunk_text) >= {_XL}
        ),
        bg AS (
            SELECT doc_id AS bench_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                       AS btext
            FROM documents WHERE doc_id % 50 = 0
        ),
        bgrams AS (
            SELECT bench_id,
                   unnest(list_distinct(list_transform(
                       range(1, length(btext) - {_XL - 2}),
                       i -> substr(btext, CAST(i AS INT), {_XL}))))
                       AS gram
            FROM bg WHERE length(btext) >= {_XL}
        )
        SELECT doc_id, chunk_idx, bench_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams_hit
        FROM cg JOIN bgrams USING (gram)
        GROUP BY 1, 2, 3
    """


QUERIES["q319_chunk_contamination"] = _replace(
    QUERIES["q319_chunk_contamination"], oracle=_q319_oracle()
)


# ---------------------------------------------------------------------------
# q320 — packing attention audit (what doc-boundary masking saves)
# ---------------------------------------------------------------------------


@query("q320_packing_attention_audit", oracle=None)  # oracle set below
def q320_packing_attention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What document-boundary attention masking saves on the q313
    packing plan: within a packed sequence of filled length S holding
    docs of lengths l_i, full self-attention is S^2 token pairs but
    cross-doc pairs (S^2 - sum l_i^2) are masked — the accounting
    that justifies packed training vs per-doc padding. ONE row:
    sequences, filled tokens, total/cross pair counts (exact BIGINT),
    and the masked fraction. Composes the registered q313 placements
    so the audit can never drift from the plan it scores."""
    p = q313_sequence_packing(spark, sf_dir)
    seq = p.groupBy("seq_id").agg(
        F.sum("n_tokens").alias("s"),
        F.sum(F.col("n_tokens") * F.col("n_tokens")).alias("ssq"),
    )
    total_pairs = F.sum(F.col("s") * F.col("s"))
    cross_pairs = F.sum(F.col("s") * F.col("s") - F.col("ssq"))
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("s").cast("long").alias("filled_tokens"),
        total_pairs.cast("long").alias("token_pairs"),
        cross_pairs.cast("long").alias("cross_doc_pairs"),
        F.round(cross_pairs.cast("double") / total_pairs, 6).alias(
            "masked_fraction"
        ),
    )


def _q320_oracle() -> str:
    return f"""
        WITH seq AS (
            SELECT seq_id, SUM(n_tokens) AS s,
                   SUM(n_tokens * n_tokens) AS ssq
            FROM ({_q313_oracle()}) GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(s) AS BIGINT) AS filled_tokens,
               CAST(SUM(s * s) AS BIGINT) AS token_pairs,
               CAST(SUM(s * s - ssq) AS BIGINT) AS cross_doc_pairs,
               round(CAST(SUM(s * s - ssq) AS DOUBLE) / SUM(s * s), 6)
                   AS masked_fraction
        FROM seq
    """


QUERIES["q320_packing_attention_audit"] = _replace(
    QUERIES["q320_packing_attention_audit"], oracle=_q320_oracle()
)


# ---------------------------------------------------------------------------
# q321 — soft dedup: inverse-propensity duplicate weights
# ---------------------------------------------------------------------------


@query(
    "q321_soft_dedup_weights",
    oracle=r"""
        WITH fp AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS f
            FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT)
                   AS cluster_size,
               round(1.0 / COUNT(*) OVER (PARTITION BY f), 6) AS weight
        FROM fp
    """,
)
def q321_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of dropping exact duplicates, keep
    every copy downweighted to 1/cluster_size so each distinct text
    contributes unit mass to the training loss — the
    inverse-propensity alternative to hard dedup (q42) that preserves
    natural-distribution signal. Fingerprint is the q40
    whitespace-normalized md5; the count-over-fingerprint window is
    bounded by duplicate multiplicity, the same shape the q309 text
    flag uses."""
    from databricks_etl_spark.operators.text import doc_fingerprint

    d = read_table(spark, sf_dir, "documents")
    fp = doc_fingerprint(d).select("doc_id", F.col("md5_fp").alias("f"))
    w = Window.partitionBy("f")
    n = F.count(F.lit(1)).over(w)
    return fp.select(
        "doc_id",
        n.cast("long").alias("cluster_size"),
        F.round(1.0 / n, 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# q322 — decontamination cost accounting (tokens lost per source)
# ---------------------------------------------------------------------------


@query("q322_decontamination_cost", oracle=None)  # oracle set below
def q322_decontamination_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What chunk-level decontamination (q319) actually costs, per
    ingestion feed: chunks and tokens in the corpus vs chunks/tokens
    that would be dropped because they carry a verbatim benchmark
    span — the budget line a data lead reads before approving the
    drop (doc-level dropping, q284, overstates the cost; this states
    the chunk-level price). Composes the registered q318/q319 lanes;
    integer sums plus one 6dp ratio."""
    from databricks_etl_spark.operators.text import chunk_tokens

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    chunks = chunk_tokens(corpus, _Q318_W, _Q318_S).join(
        corpus.select("doc_id", "source"), "doc_id"
    )
    hit = (
        q319_chunk_contamination(spark, sf_dir)
        .select("doc_id", "chunk_idx")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    j = chunks.join(hit, ["doc_id", "chunk_idx"], "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count("__hit").cast("long").alias("n_contaminated_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("chunk_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("__hit").isNotNull(), F.col("n_chunk_tokens"))),
            F.lit(0),
        )
        .cast("long")
        .alias("contaminated_tokens"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(F.col("__hit").isNotNull(), F.col("n_chunk_tokens"))
                ),
                F.lit(0),
            ).cast("double")
            / F.sum("n_chunk_tokens"),
            6,
        ).alias("cost_ratio"),
    )


def _q322_oracle() -> str:
    return f"""
        WITH {_q318_chunks_sql("WHERE doc_id % 50 != 0")},
        src AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 != 0),
        hit AS (
            SELECT DISTINCT doc_id, chunk_idx FROM ({_q319_oracle()})
        )
        SELECT s.source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated_chunks,
               CAST(SUM(c.n_chunk_tokens) AS BIGINT) AS chunk_tokens,
               CAST(COALESCE(SUM(CASE WHEN h.doc_id IS NOT NULL
                                      THEN c.n_chunk_tokens END), 0)
                    AS BIGINT) AS contaminated_tokens,
               round(CAST(COALESCE(SUM(CASE WHEN h.doc_id IS NOT NULL
                                             THEN c.n_chunk_tokens END), 0)
                          AS DOUBLE) / SUM(c.n_chunk_tokens), 6)
                   AS cost_ratio
        FROM chunks c
        JOIN src s ON c.doc_id = s.doc_id
        LEFT JOIN hit h
          ON c.doc_id = h.doc_id AND c.chunk_idx = h.chunk_idx
        GROUP BY 1
    """


QUERIES["q322_decontamination_cost"] = _replace(
    QUERIES["q322_decontamination_cost"], oracle=_q322_oracle()
)


# ---------------------------------------------------------------------------
# q323 — data-constrained epoch allocation
# ---------------------------------------------------------------------------

_Q323_MAX_EPOCHS = 4


@query(
    "q323_epoch_allocation",
    oracle=f"""
        WITH {{quality}},
        t AS (
            SELECT d.source, d.doc_id, q.quality_score,
                   {{toks}} AS n_tokens
            FROM documents d JOIN q ON d.doc_id = q.doc_id
        ),
        per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   round(CAST(SUM(CAST(quality_score AS DECIMAL(18,6)))
                              AS DOUBLE) / COUNT(*), 6) AS mean_quality
            FROM t GROUP BY 1
        )
        SELECT source, n_docs, total_tokens, mean_quality,
               CAST(least({_Q323_MAX_EPOCHS}, greatest(1,
                    CAST(floor({_Q323_MAX_EPOCHS} * mean_quality + 0.5)
                         AS BIGINT))) AS BIGINT) AS epochs,
               CAST(total_tokens
                    * least({_Q323_MAX_EPOCHS}, greatest(1,
                          CAST(floor({_Q323_MAX_EPOCHS} * mean_quality + 0.5)
                               AS BIGINT))) AS BIGINT) AS effective_tokens
        FROM per
    """,
)
def q323_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (the repeat-high-quality-data
    rule): each source earns 1..{max_epochs} training epochs
    proportional to its mean quality score, and the plan states the
    effective token budget per source — the knob a data-constrained
    run turns instead of crawling more. Mean quality decimal-sums;
    the epoch rounding is floor(x + 0.5) (the README rule — round()
    half-even diverges between engines on exact halves, and quality
    scores are exact quarters so halves DO occur)."""
    from databricks_etl_spark.operators.text import quality_features, tokens_col

    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.size(tokens_col("text")).alias("n_tokens")).join(
        quality_features(d).select("doc_id", "quality_score"), "doc_id"
    )
    n = F.count(F.lit(1))
    per = t.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double") / n,
            6,
        ).alias("mean_quality"),
    )
    epochs = F.least(
        F.lit(_Q323_MAX_EPOCHS),
        F.greatest(
            F.lit(1),
            F.floor(_Q323_MAX_EPOCHS * F.col("mean_quality") + 0.5).cast("int"),
        ),
    ).cast("long")
    return per.select(
        "source",
        "n_docs",
        "total_tokens",
        "mean_quality",
        epochs.alias("epochs"),
        (F.col("total_tokens") * epochs).cast("long").alias("effective_tokens"),
    )


def _q323_fix_oracle() -> None:
    from databricks_etl_spark.plans.queries_round7 import (
        _Q291_TOKS,
        _quality_sql,
    )

    o = QUERIES["q323_epoch_allocation"].oracle
    QUERIES["q323_epoch_allocation"] = _replace(
        QUERIES["q323_epoch_allocation"],
        oracle=o.replace("{quality}", _quality_sql()).replace(
            "{toks}", _Q291_TOKS
        ),
    )


_q323_fix_oracle()


# ---------------------------------------------------------------------------
# q324 — Zipf fit over the vocabulary head
# ---------------------------------------------------------------------------

_Q324_K = 100


@query("q324_zipf_fit", oracle=None)  # oracle set below
def q324_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How Zipfian is the corpus vocabulary: OLS fit of ln(freq) ~
    ln(rank) over the top-{k} tokens — a healthy natural-language
    corpus slopes near -1; a flat or cliff-shaped head is the
    template-spam signature (the q151 boilerplate lane's statistical
    sibling). Top-K is TakeOrderedAndProject with the (freq DESC,
    token) total order; the regression uses q275's exact-decimal
    moment discipline with ln() inputs rounded to 9dp first (ln is
    empirically bit-identical cross-engine — the BM25/entropy
    precedent). ONE row: n, slope, intercept."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    top = (
        d.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_Q324_K)
    )
    r = Window.orderBy(F.desc("c"), F.asc("w"))
    pts = top.select(
        F.round(F.log(F.row_number().over(r).cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return m.select(
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
        (F.round((sy - slope * sx) / F.col("n"), 6) + F.lit(0.0)).alias(
            "intercept"
        ),
    )


def _q324_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_RAWTOKS

    return f"""
        WITH tok AS (
            SELECT unnest({_Q291_RAWTOKS}) AS w FROM documents
        ),
        top AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
            ORDER BY c DESC, w LIMIT {_Q324_K}
        ),
        pts AS (
            SELECT CAST(round(ln(CAST(row_number() OVER (
                           ORDER BY c DESC, w) AS DOUBLE)), 9)
                        AS DECIMAL(18,9)) AS x,
                   CAST(round(ln(CAST(c AS DOUBLE)), 9)
                        AS DECIMAL(18,9)) AS y
            FROM top
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
                   SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx
            FROM pts
        )
        SELECT n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                     6) + 0.0 AS zipf_slope,
               round((CAST(sy AS DOUBLE)
                      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                        * CAST(sx AS DOUBLE)) / n,
                     6) + 0.0 AS intercept
        FROM m
    """


QUERIES["q324_zipf_fit"] = _replace(
    QUERIES["q324_zipf_fit"], oracle=_q324_oracle()
)


# ---------------------------------------------------------------------------
# q325 — two-sample Kolmogorov–Smirnov drift test
# ---------------------------------------------------------------------------


@query(
    "q325_ks_drift",
    oracle="""
        WITH t AS (
            SELECT CASE WHEN year(o_orderdate) <= 1997 THEN 'a' ELSE 'b'
                   END AS period,
                   CAST(floor(CAST(o_totalprice AS DOUBLE) / 100.0)
                        AS BIGINT) AS bin
            FROM orders
        ),
        per AS (
            SELECT bin,
                   CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM t GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM per),
        cum AS (
            SELECT bin,
                   SUM(n_a) OVER (ORDER BY bin) AS ca,
                   SUM(n_b) OVER (ORDER BY bin) AS cb
            FROM per
        ),
        d AS (
            SELECT MAX(abs(CAST(ca AS DOUBLE) / ta
                           - CAST(cb AS DOUBLE) / tb)) AS ks
            FROM cum, tot
        )
        SELECT CAST(tot.ta AS BIGINT) AS n_a, CAST(tot.tb AS BIGINT) AS n_b,
               round(d.ks, 6) AS ks_stat,
               d.ks > 1.36 * sqrt((tot.ta + tot.tb)
                                  / (CAST(tot.ta AS DOUBLE) * tot.tb))
                   AS drifted
        FROM d, tot
    """,
)
def q325_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between the q293
    cohorts (orders through 1997 vs after) on totalprice — the
    distribution-shape alarm PSI's fixed bins can miss. Values
    quantize to $100 bins FIRST so the CDF window runs over a bounded
    bin set (the 100 TB discipline: never a global sort of raw
    values), then D = max |F_a - F_b| over cumulative bin counts,
    compared against the 95% critical value 1.36*sqrt((na+nb)/(na*nb)).
    ONE row: cohort sizes, D, and the verdict."""
    o = read_table(spark, sf_dir, "orders")
    t = o.select(
        F.when(F.year("o_orderdate") <= 1997, "a").otherwise("b").alias("period"),
        F.floor(F.col("o_totalprice").cast("double") / 100.0)
        .cast("long")
        .alias("bin"),
    )
    per = t.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tot = per.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "bin",
        F.sum("n_a").over(w).alias("ca"),
        F.sum("n_b").over(w).alias("cb"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
            ).alias("ks")
        )
    )
    crit = 1.36 * F.sqrt(
        (F.col("ta") + F.col("tb"))
        / (F.col("ta").cast("double") * F.col("tb"))
    )
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("ta").cast("long").alias("n_a"),
        F.col("tb").cast("long").alias("n_b"),
        F.round(F.col("ks"), 6).alias("ks_stat"),
        (F.col("ks") > crit).alias("drifted"),
    )
