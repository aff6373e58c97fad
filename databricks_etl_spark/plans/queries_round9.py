r"""Round-9 queries: the dataloader-order capstone (the deterministic
epoch-by-epoch training stream composing the q312 manifest, q323 epoch
budgets, grouped FFD packing and MINSTD shuffle keys), incremental
manifest maintenance (delta docs scored against the persisted corpus
index without re-scoring the corpus), a greedy longest-match subword
tokenizer with a packing re-run on subword lengths, chunk-grain MinHash
near-dup, and a RAG retrieval-eval lane (VERDICT r8 #2/#3/#4/#5/#7).

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) have no training-data machinery at all;
these extend the engine's north-star LLM-data surface (SURVEY.md §2.12).
"""

from __future__ import annotations

from dataclasses import replace as _replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.plans.registry import QUERIES, query
from databricks_etl_spark.sources.readers import read_table

# the oracles below embed round-7/8 oracle SQL via the registry, so a
# DIRECT import of this module must register those rounds first (via
# registry._load() the order is already right; this makes standalone
# imports — tests, notebooks — work too)
import databricks_etl_spark.plans.queries_round8  # noqa: E402,F401  isort: skip

# ---------------------------------------------------------------------------
# q326 — dataloader-order capstone: the epoch-by-epoch training stream
# ---------------------------------------------------------------------------

_Q326_B = 256  # token budget per sequence (q313's)
_Q326_P = 128  # planning-shard size (q313's)
_Q326_SEQNS = 1_000_000  # operators.packing._SEQ_NS
_Q326_BKTS = 64  # step-rank bucket fan-out (distributed dense rank)
_MINSTD_P = 1_000_000_007


def _grouped_ffd_sql(suffix: str = "", budget: int | None = None) -> str:
    """The grouped-FFD recursion as a ``pack``+``placed`` CTE block
    over a prepared ``it`` relation (doc_id, len, eclass, shard, k
    with k = row_number by (len DESC, doc_id) within (eclass, shard)).
    THE single source of the placement recursion — q326's order
    capstone and q343/q346's incremental maintenance
    (queries_round10) all embed it so the packing rule cannot drift
    between the full and the delta lane. Must appear inside a WITH
    RECURSIVE chain. ``suffix`` renames the three CTEs
    (it/pack/placed + suffix) so one oracle can run two independent
    packs (q346 compares pre- and post-delta artifacts).
    ``budget`` overrides the per-sequence token budget (None = the
    production {_Q326_B}; queries_round10's q370 sweeps it).
    ``placed`` emits (eclass, shard, doc_id, seq_uid, off) with
    seq_uid = (shard * {_Q326_SEQNS} + bin) * 8 + eclass — eclass in
    the LOW 3 bits, collision-free at any shard count."""
    fit = (
        "list_filter(range(1, len(p.res) + 1), "
        "jj -> p.res[jj] >= i.len)[1]"
    )
    b = _Q326_B if budget is None else budget
    it, pack, placed = (n + suffix for n in ("it", "pack", "placed"))
    return f"""{pack} AS (
            SELECT eclass, shard, CAST(0 AS BIGINT) AS k,
                   CAST([] AS BIGINT[]) AS res,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS bin,
                   CAST(NULL AS BIGINT) AS off
            FROM (SELECT DISTINCT eclass, shard FROM {it})
            UNION ALL
            SELECT i.eclass, i.shard, i.k,
                   CASE WHEN {fit} IS NULL
                        THEN list_append(p.res, {b} - i.len)
                        ELSE list_transform(range(1, len(p.res) + 1),
                             jj -> CASE WHEN jj = {fit}
                                        THEN p.res[jj] - i.len
                                        ELSE p.res[jj] END)
                   END,
                   i.doc_id,
                   COALESCE({fit}, len(p.res) + 1),
                   CASE WHEN {fit} IS NULL THEN 0
                        ELSE {b} - p.res[{fit}]
                   END
            FROM {pack} p
            JOIN {it} i ON i.eclass = p.eclass AND i.shard = p.shard
                     AND i.k = p.k + 1
        ),
        {placed} AS (
            SELECT p.eclass, p.shard, p.doc_id,
                   (p.shard * {_Q326_SEQNS} + p.bin) * 8 + p.eclass
                       AS seq_uid,
                   p.off
            FROM {pack} p WHERE p.k >= 1
        )"""


def _q326_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS

    o312 = QUERIES["q312_training_manifest"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
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
        es AS (
            SELECT seq_uid, unnest(range(1, eclass + 1)) AS epoch
            FROM (SELECT DISTINCT eclass, seq_uid FROM placed)
        ),
        kb AS (
            SELECT epoch, seq_uid, uk, uk % {_Q326_BKTS} AS bucket
            FROM (
                SELECT epoch, seq_uid,
                       ((seq_uid % {_MINSTD_P}) * 48271 + epoch * 7919)
                           % {_MINSTD_P} AS uk
                FROM es
            )
        ),
        pre AS (
            SELECT epoch, bucket,
                   COALESCE(SUM(c) OVER (
                       PARTITION BY epoch ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS offs
            FROM (SELECT epoch, bucket, COUNT(*) AS c FROM kb GROUP BY 1, 2)
        ),
        stepped AS (
            SELECT k.epoch, k.seq_uid,
                   p.offs + row_number() OVER (
                       PARTITION BY k.epoch, k.bucket
                       ORDER BY k.uk, k.seq_uid) AS step
            FROM kb k JOIN pre p ON k.epoch = p.epoch AND k.bucket = p.bucket
        )
        SELECT CAST(s.epoch AS BIGINT) AS epoch,
               CAST(s.step AS BIGINT) AS step,
               CAST(s.seq_uid AS BIGINT) AS seq_id,
               pl.doc_id,
               CAST(pl.off AS BIGINT) AS seq_offset
        FROM stepped s JOIN placed pl ON s.seq_uid = pl.seq_uid
    """


@query("q326_dataloader_order", oracle=None)  # oracle set below
def q326_dataloader_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataloader-order capstone: the exact (epoch, step, seq_id,
    doc_id, seq_offset) stream a training dataloader replays,
    composing the lanes the engine already proves — q312's ship
    verdicts (what trains), q323's per-source epoch budgets (how many
    times), grouped FFD packing (how docs pack into sequences) and
    q315's MINSTD key discipline (the deterministic epoch shuffle).

    Docs are packed PER EPOCH-CLASS (``ffd_pack(group_col=...)``):
    every doc in a sequence shares the same epoch count, so the whole
    sequence replays uniformly in epochs 1..eclass and each shipped
    doc appears exactly epochs(source) times — the capstone invariant.
    seq_id = (shard * 1e6 + bin) * 8 + eclass stays collision-free at
    any shard count because the eclass lives in the LOW three bits,
    not above the shard field.

    The per-epoch step numbering is a distributed dense rank, never a
    single-task window: sequences land in {_Q326_BKTS} MINSTD-keyed
    buckets, a tiny (epochs x buckets) count relation provides
    broadcast prefix offsets, and step = prefix + row_number within
    (epoch, bucket) — the global permutation a dataloader needs,
    computed {_Q326_BKTS}-ways parallel per epoch. The permutation is
    ordered by (bucket, key, seq_id): deterministic, engine-identical
    (pure modular arithmetic), and epoch-dependent so no two epochs
    replay the same order. Every composition join is keyed on doc_id
    or seq_id; component costs dominate by design."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
        q323_epoch_allocation,
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
    # r16 OPT (guide §2.4/§5): `placed` feeds both the epoch expansion
    # (es → kb → cnts/stepped) and the final seq_uid join-back, and
    # `kb` feeds both the bucket counts and the stepped ranks — without
    # a materialization the q312-ship ⋈ FFD-pack pipeline re-executed
    # once per consumer (3-4x per invocation; every q326-composing
    # audit lane multiplied that again). Two lazy localCheckpoints
    # bound the recompute to exactly one packing pass per invocation.
    placed = packed.select(
        "eclass",
        "doc_id",
        (F.col("seq_id") * 8 + F.col("eclass")).alias("seq_uid"),
        "seq_offset",
    ).localCheckpoint(eager=False)
    es = (
        placed.select("eclass", "seq_uid")
        .distinct()
        .select(
            "seq_uid",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("eclass"))
            ).alias("epoch"),
        )
    )
    uk = (
        (F.col("seq_uid") % _MINSTD_P) * 48271 + F.col("epoch") * 7919
    ) % _MINSTD_P
    kb = (
        es.withColumn("uk", uk)
        .withColumn("bucket", F.col("uk") % _Q326_BKTS)
        .localCheckpoint(eager=False)
    )
    cnts = kb.groupBy("epoch", "bucket").agg(F.count(F.lit(1)).alias("c"))
    wpre = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = cnts.select(
        "epoch", "bucket", F.coalesce(F.sum("c").over(wpre), F.lit(0)).alias("offs")
    )
    wrn = Window.partitionBy("epoch", "bucket").orderBy("uk", "seq_uid")
    stepped = (
        kb.join(F.broadcast(pre), ["epoch", "bucket"])
        .select(
            "epoch",
            "seq_uid",
            (F.col("offs") + F.row_number().over(wrn)).cast("long").alias("step"),
        )
    )
    return stepped.join(placed, "seq_uid").select(
        F.col("epoch").cast("long").alias("epoch"),
        "step",
        F.col("seq_uid").alias("seq_id"),
        "doc_id",
        "seq_offset",
    )


QUERIES["q326_dataloader_order"] = _replace(
    QUERIES["q326_dataloader_order"], oracle=_q326_oracle()
)


# ---------------------------------------------------------------------------
# q327 — incremental manifest maintenance (delta verdicts, corpus untouched)
# ---------------------------------------------------------------------------

_B327 = 10_000_000_000  # delta re-identification offset (q287's discipline)
_Q327_QUALITY_MIN = 0.5  # q312's ship floor
_Q327_PSI_MAX = 0.25  # q312's drift alarm


def _q327_chain() -> str:
    """Shared oracle CTE chain for the manifest-maintenance family
    (q327 new-doc verdicts, q335 touched survivors) — ONE definition
    so the two relations can never drift (the _semdedup_cells_sql
    precedent). The caller appends its final SELECT via
    ``.replace('{final}', ...)`` (str.format would trip on the
    regexp braces inside the quality CTE)."""
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_D2,
        _Q285_T,
        _XL,
        _XS,
        _quality_sql,
    )
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    o311 = QUERIES["q311_vocab_drift"].oracle
    vals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    sim = (
        f"round({_dot_sql('b.embedding', 'c.embedding')}"
        f" / (sqrt({_dot_sql('b.embedding', 'b.embedding')})"
        f" * sqrt({_dot_sql('c.embedding', 'c.embedding')})), 6)"
    )
    return f"""
        WITH delta_docs AS (
            SELECT dd0.doc_id + {_B327} AS doc_id,
                   CASE WHEN dd0.doc_id % 10 = 1 THEN dd0.text
                        ELSE array_to_string(list_reverse(
                            string_split_regex(lower(trim(dd0.text)),
                                               '\\s+')), ' ')
                   END AS text
            FROM documents dd0 WHERE dd0.doc_id % 5 = 1
        ),
        {_quality_sql("delta_docs")},
        dcg AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, length(text) - {_XL - 2}, {_XS}),
                       i -> substr(text, CAST(i AS INT), {_XL}))))
                       AS gram
            FROM delta_docs WHERE length(text) >= {_XL}
        ),
        bgr AS (
            SELECT DISTINCT unnest(list_distinct(list_transform(
                       range(1, length(text) - {_XL - 2}),
                       i -> substr(text, CAST(i AS INT), {_XL}))))
                       AS gram
            FROM documents WHERE doc_id % 50 = 0 AND length(text) >= {_XL}
        ),
        dhit AS (SELECT DISTINCT dcg.doc_id FROM dcg JOIN bgr USING (gram)),
        cents(cid, c) AS (VALUES {vals}),
        casg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM embeddings, cents
        ),
        corpusc AS (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM casg WHERE rn = 1
        ),
        deltav AS (
            SELECT ev0.vec_id + {_B327} AS vec_id,
                   CASE WHEN ev0.vec_id % 10 = 1 THEN ev0.embedding
                        ELSE list_reverse(ev0.embedding)
                   END AS embedding
            FROM embeddings ev0 WHERE ev0.vec_id % 5 = 1
        ),
        basg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM deltav, cents
        ),
        batchv AS (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM basg WHERE rn = 1
        ),
        prs AS (
            SELECT b.vec_id AS delta_id, c.vec_id AS corpus_id
            FROM batchv b JOIN corpusc c ON b.cell_id = c.cell_id
            WHERE {sim} >= {_Q285_T}
        ),
        nm AS (
            SELECT delta_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM prs GROUP BY 1
        ),
        gate AS (SELECT DISTINCT psi_total FROM ({o311}))
        {{final}}
    """


def _q327_oracle() -> str:
    return _q327_chain().replace(
        "{final}",
        f"""SELECT dd.doc_id,
               (dhit.doc_id IS NOT NULL) AS contaminated,
               (nm.n IS NOT NULL) AS sem_dup,
               COALESCE(q.quality_score >= {_Q327_QUALITY_MIN}, FALSE)
                   AS quality_ok,
               (dhit.doc_id IS NULL AND nm.n IS NULL
                AND COALESCE(q.quality_score >= {_Q327_QUALITY_MIN}, FALSE)
                AND gate.psi_total < {_Q327_PSI_MAX}) AS ship,
               COALESCE(nm.n, 0) AS n_new_collisions
        FROM delta_docs dd
        LEFT JOIN dhit ON dd.doc_id = dhit.doc_id
        LEFT JOIN q ON dd.doc_id = q.doc_id
        LEFT JOIN nm ON dd.doc_id = nm.delta_id
        CROSS JOIN gate""",
    )


@query("q327_manifest_maintenance", oracle=None)  # oracle set below
def q327_manifest_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MANIFEST maintenance — the missing delta lane
    between the persisted q312 manifest and the incremental dedup
    machinery (q287 cells, q252 bands): a batch of NEW documents
    (every doc_id % 5 == 1 source doc, re-identified +1e10; half
    arrive verbatim — the re-ingested-crawl case — and half
    deterministically perturbed by token/embedding reversal — the
    genuinely-novel case) is scored WITHOUT recomputing the corpus.

    One verdict row per delta doc with the full gate set — benchmark
    contamination (delta grams x broadcast bench, q283's construction
    at delta size), semantic collision against the PERSISTED q285
    cell index (delta x same-cell only, q287's probe — the corpus is
    never re-assigned or re-compared), the quality floor on the delta
    text, and the persisted PSI drift scalar. The other change class
    — prior survivors a delta doc collides with — is q335, its own
    relation (a survivor's verdicts are NOT re-scored, so forcing the
    two classes into one schema would need NULL booleans — a
    cross-engine hash hazard). Delta docs carry no multimodal
    payloads, so the q309 gate is clean by definition. Scale: every
    corpus-sized input is the persisted index; all new work is
    delta-sized or delta x cell-bounded."""
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.text import (
        exact_substring_hits,
        tokens_col,
    )
    from databricks_etl_spark.plans.queries_round7 import (
        _XL,
        _XS,
        q311_vocab_drift,
    )

    d = read_table(spark, sf_dir, "documents")
    pert = F.array_join(F.reverse(tokens_col("text")), " ")
    delta = d.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + _B327).alias("doc_id"),
        F.when(F.col("doc_id") % 10 == 1, F.col("text"))
        .otherwise(pert)
        .alias("text"),
    )
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    cont = (
        exact_substring_hits(delta, bench, length=_XL, stride=_XS)
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    qual = TX.quality_features(delta).select("doc_id", "quality_score")
    nm = (
        _q327_collision_pairs(spark, sf_dir)
        .groupBy("delta_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    gate = q311_vocab_drift(spark, sf_dir).select("psi_total").distinct()

    contaminated = F.coalesce(F.col("__hit"), F.lit(False))
    sem_dup = F.col("__n").isNotNull()
    quality_ok = F.coalesce(
        F.col("quality_score") >= _Q327_QUALITY_MIN, F.lit(False)
    )
    drift_ok = F.col("psi_total") < _Q327_PSI_MAX
    return (
        delta.select("doc_id")
        .join(cont, "doc_id", "left")
        .join(qual, "doc_id", "left")
        .join(nm, delta.doc_id == nm.delta_id, "left")
        .crossJoin(F.broadcast(gate))
        .select(
            "doc_id",
            contaminated.alias("contaminated"),
            sem_dup.alias("sem_dup"),
            quality_ok.alias("quality_ok"),
            (~contaminated & ~sem_dup & quality_ok & drift_ok).alias("ship"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias(
                "n_new_collisions"
            ),
        )
    )


def _q327_collision_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta x persisted-cell-index collision pairs (delta_id,
    corpus_id) at the q285 threshold — the one shared input of the
    maintenance family: q327 counts them per delta doc, q335 per
    touched survivor."""
    from databricks_etl_spark.operators import similarity as SIM
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_T,
    )

    e = read_table(spark, sf_dir, "embeddings")
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    corpus_cells = SIM.assign_cells(e, cents)
    dv = e.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + _B327).alias("vec_id"),
        F.when(F.col("vec_id") % 10 == 1, F.col("embedding"))
        .otherwise(F.reverse("embedding"))
        .alias("embedding"),
    )
    bc = SIM.assign_cells(dv, cents)
    idx = corpus_cells.select(
        F.col("vec_id").alias("__cid"),
        F.col("embedding").alias("__cv"),
        SIM.norm(F.col("embedding")).alias("__nv"),
        "cell_id",
    )
    return (
        bc.withColumn("__nb", SIM.norm(F.col("embedding")))
        .join(idx, "cell_id")
        .withColumn(
            "__s",
            F.round(
                SIM.paired_cosine(
                    F.col("embedding"),
                    F.col("__cv"),
                    F.col("__nb"),
                    F.col("__nv"),
                ),
                6,
            ),
        )
        .filter(F.col("__s") >= _Q285_T)
        .select(
            F.col("vec_id").alias("delta_id"),
            F.col("__cid").alias("corpus_id"),
        )
    )


QUERIES["q327_manifest_maintenance"] = _replace(
    QUERIES["q327_manifest_maintenance"], oracle=_q327_oracle()
)


def _q335_oracle() -> str:
    o312 = QUERIES["q312_training_manifest"].oracle
    return _q327_chain().replace(
        "{final}",
        f"""SELECT t.corpus_id AS doc_id, t.n_new_collisions
        FROM (
            SELECT corpus_id, CAST(COUNT(*) AS BIGINT) AS n_new_collisions
            FROM prs GROUP BY 1
        ) t
        JOIN (SELECT doc_id FROM ({o312}) WHERE ship) s
            ON t.corpus_id = s.doc_id""",
    )


@query("q335_manifest_touched_survivors", oracle=None)  # oracle set below
def q335_manifest_touched_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OTHER change class of manifest maintenance: prior shipped
    survivors (persisted q312 manifest) that a q327 delta doc
    collides with semantically — one row per touched survivor with
    its new-collision count, and nothing else (the corpus is never
    re-scored; the consumer decides whether new collisions demote a
    survivor, mirroring how q256 maintains the band index without
    re-banding). Untouched corpus docs never appear — the relation
    is collision-bounded, not corpus-sized."""
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )

    surv = q312_training_manifest(spark, sf_dir).filter("ship").select("doc_id")
    return (
        _q327_collision_pairs(spark, sf_dir)
        .groupBy("corpus_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_collisions"))
        .join(surv, F.col("corpus_id") == surv.doc_id)
        .select(F.col("corpus_id").alias("doc_id"), "n_new_collisions")
    )


QUERIES["q335_manifest_touched_survivors"] = _replace(
    QUERIES["q335_manifest_touched_survivors"], oracle=_q335_oracle()
)


# ---------------------------------------------------------------------------
# q336 — streaming chunk decontamination (ingest-time screen ≡ batch q319)
# ---------------------------------------------------------------------------


@query("q336_streaming_chunk_decontam", oracle=None)  # q319's oracle, below
def q336_streaming_chunk_decontam(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chunk-level benchmark decontamination AT INGEST: the q319
    screen run as a TRUE Structured Streaming loop
    (``streaming/decontam.py``) — corpus documents arrive as an
    availableNow stream, each micro-batch is chunked, grammed, and
    probed against the static broadcast benchmark set, and the
    per-chunk hits land in an epoch-idempotent sink (replayed epochs
    overwrite themselves). Contamination is per-doc independent, so
    the drained hit set is invariant to micro-batch slicing and
    byte-equal to the batch computation — this query registers with
    q319's OWN oracle SQL, making the streaming path itself
    driver-hash-checked (the q131 exactly-once discipline applied to
    the decontamination lane)."""
    from databricks_etl_spark.plans.queries_round7 import _XL, _XS
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W
    from databricks_etl_spark.streaming.decontam import (
        run_streaming_chunk_decontam,
    )

    return run_streaming_chunk_decontam(
        spark,
        sf_dir,
        window=_Q318_W,
        stride=_Q318_S,
        length=_XL,
        gram_stride=_XS,
    )


def _q336_fix_oracle() -> None:
    QUERIES["q336_streaming_chunk_decontam"] = _replace(
        QUERIES["q336_streaming_chunk_decontam"],
        oracle=QUERIES["q319_chunk_contamination"].oracle,
    )


_q336_fix_oracle()
# ---------------------------------------------------------------------------
# q328/q329 — greedy longest-match subword tokenizer + subword packing
# ---------------------------------------------------------------------------


def _subword_wc_sql() -> str:
    """The greedy longest-match consumption recursion as a ``tk``+``wc``
    CTE pair over a prepared ``words`` relation (DISTINCT ``w``):
    ``wc`` yields (w, pieces). THE single source of the piece-count
    recursion — q328's doc-grain counts and q345's chunk-grain packing
    (queries_round10) both embed it so the tokenizer rule cannot drift
    between grains. Must sit inside a WITH RECURSIVE chain."""
    from databricks_etl_spark.operators.text import (
        SUBWORD_VOCAB_2,
        SUBWORD_VOCAB_3,
        SUBWORD_VOCAB_4,
    )

    v4 = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB_4)
    v3 = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB_3)
    v2 = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB_2)
    return f"""tk AS (
            SELECT w, 1 AS pos, 0 AS cnt FROM words
            UNION ALL
            SELECT w,
                   pos + CASE WHEN substr(w, pos, 4) IN ({v4}) THEN 4
                              WHEN substr(w, pos, 3) IN ({v3}) THEN 3
                              WHEN substr(w, pos, 2) IN ({v2}) THEN 2
                              ELSE 1 END,
                   cnt + 1
            FROM tk WHERE pos <= length(w)
        ),
        wc AS (SELECT w, MAX(cnt) AS pieces FROM tk GROUP BY 1)"""


def _q328_oracle() -> str:
    return f"""
        WITH RECURSIVE
        tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ),
        vt AS (SELECT doc_id, w FROM tok WHERE length(w) >= 1),
        words AS (SELECT DISTINCT w FROM vt),
        {_subword_wc_sql()},
        per AS (
            SELECT vt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(wc.pieces) AS BIGINT) AS n_subword_tokens
            FROM vt JOIN wc USING (w) GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(per.n_words, 0) AS n_words,
               COALESCE(per.n_subword_tokens, 0) AS n_subword_tokens,
               round(CAST(per.n_subword_tokens AS DOUBLE) / per.n_words, 6)
                   AS pieces_per_word
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """


@query("q328_subword_tokenize", oracle=_q328_oracle())
def q328_subword_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match SUBWORD tokenization — the realism gap the
    r8 verdict named: every token count in the repo is whitespace-
    split, but pipelines budget in subword tokens. WordPiece/BPE
    *inference* (longest-match-first against a fixed vocabulary) over
    a literal vocab grouped by piece length (4/3/2-char pieces,
    1-char fallback — total coverage by construction), expressed as a
    pure JVM ``aggregate`` fold over character positions: no UDF, no
    model artifact, engine-reproducible (the q285 fixed-centroid
    discipline applied to tokenization). Each DISTINCT word tokenizes
    once; piece counts join back to the exploded token stream (the
    q82 shuffle shape). The oracle states the identical consumption
    as a recursive CTE — the terminal piece count per word is the
    fold's MAX(cnt). Per doc: whitespace words, subword tokens, and
    the fertility ratio (pieces per word, the tokenizer-quality
    metric)."""
    from databricks_etl_spark.operators.text import subword_doc_counts

    d = read_table(spark, sf_dir, "documents")
    return subword_doc_counts(d)


def _q329_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import _ffd_oracle

    return _ffd_oracle(
        f"SELECT doc_id, n_subword_tokens AS len FROM ({_q328_oracle()})"
    )


@query("q329_subword_packing", oracle=_q329_oracle())
def q329_subword_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q313 packing plan RE-BASED on subword lengths (q328): the
    token budget a training run actually spends is subword tokens,
    and a pack plan built on whitespace counts under-fills every
    sequence by the fertility ratio. Identical FFD machinery and
    placement order (length DESC, doc_id) through the SAME
    ``ffd_pack`` operator and the SAME parameterized recursive-CTE
    oracle as q313 — only the length column changes, which is the
    point: the packing lane is length-source-agnostic."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.plans.queries_round8 import _Q313_B, _Q313_P

    lens = q328_subword_tokenize(spark, sf_dir).select(
        "doc_id", F.col("n_subword_tokens").alias("len")
    )
    return ffd_pack(lens, _Q313_B, _Q313_P)


# ---------------------------------------------------------------------------
# q330/q331 — chunk-grain MinHash near-dup (oracled gate + LSH lane)
# ---------------------------------------------------------------------------

_Q330_H = 8  # minhash functions
_Q330_BANDS = 4  # bands of 2 rows each
_Q330_MIN_EQ = 4  # >= 4/8 matching components ~ est Jaccard >= 0.5


def _q330_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import _q318_chunks_sql

    sig_cols = ", ".join(
        f"MIN(md5('{i}:' || s)) AS h{i}" for i in range(_Q330_H)
    )
    band_case = " ".join(
        f"WHEN {b} THEN h{2 * b} || h{2 * b + 1}"
        for b in range(_Q330_BANDS)
    )
    n_eq = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(_Q330_H)
    )
    return f"""
        WITH {_q318_chunks_sql()},
        ct AS (
            SELECT doc_id, chunk_idx, string_split(chunk_text, ' ') AS toks
            FROM chunks WHERE n_chunk_tokens >= 3
        ),
        sh AS (
            SELECT doc_id, chunk_idx,
                   unnest(list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                       AS s
            FROM ct
        ),
        sig AS (
            SELECT doc_id, chunk_idx, {sig_cols}
            FROM sh GROUP BY 1, 2
        ),
        bands AS (
            SELECT doc_id, chunk_idx, bb.band,
                   CASE bb.band {band_case} END AS bh
            FROM sig, (SELECT unnest(range(0, {_Q330_BANDS})) AS band) bb
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, a.chunk_idx AS chunk_a,
                   b.doc_id AS doc_b, b.chunk_idx AS chunk_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_bands
            FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        ),
        scored AS (
            SELECT c.doc_a, c.chunk_a, c.doc_b, c.chunk_b,
                   c.n_shared_bands, {n_eq} AS n_matching
            FROM cand c
            JOIN sig sa ON c.doc_a = sa.doc_id AND c.chunk_a = sa.chunk_idx
            JOIN sig sb ON c.doc_b = sb.doc_id AND c.chunk_b = sb.chunk_idx
        )
        SELECT doc_a, chunk_a, doc_b, chunk_b, n_shared_bands,
               CAST(n_matching AS BIGINT) AS n_matching,
               round(n_matching / {_Q330_H}.0, 6) AS est_jaccard
        FROM scored WHERE n_matching >= {_Q330_MIN_EQ}
    """


def _q330_sig_bands(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """q330's signature and banding relations over the corpus table —
    see :func:`_q330_sig_bands_df`."""
    return _q330_sig_bands_df(read_table(spark, sf_dir, "documents"))


def _q330_sig_bands_df(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """q330's signature and banding relations, factored so the salted
    skew-hardened twin (queries_round11.q387) and its planted-skew
    gate consume the IDENTICAL construction: ``sig`` (doc_id,
    chunk_idx, h0..h{_Q330_H - 1}) and ``bands`` (doc_id, chunk_idx,
    band, bh)."""
    from databricks_etl_spark.operators.text import (
        chunk_tokens,
        shingle_array,
        tokens_col,
    )
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W

    ct = (
        chunk_tokens(d, _Q318_W, _Q318_S)
        .filter(F.col("n_chunk_tokens") >= 3)
        .select(
            "doc_id",
            "chunk_idx",
            tokens_col("chunk_text").alias("toks"),
        )
    )
    sh = ct.select(
        "doc_id",
        "chunk_idx",
        F.explode(F.array_distinct(shingle_array(F.col("toks"), 3))).alias("s"),
    )
    sig = sh.groupBy("doc_id", "chunk_idx").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(_Q330_H)
        ]
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias(
                    "bh"
                ),
            )
            for b in range(_Q330_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", "chunk_idx", F.explode(band_arr).alias("x")
    ).select("doc_id", "chunk_idx", "x.band", "x.bh")
    return sig, bands


def _q330_score(cand: DataFrame, sig: DataFrame) -> DataFrame:
    """q330's candidate-scoring tail (signature join + matching-
    component fraction + threshold), factored for the same reason."""
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("chunk_idx").alias("chunk_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_Q330_H)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("chunk_idx").alias("chunk_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_Q330_H)],
    )
    n_eq = None
    for i in range(_Q330_H):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        n_eq = term if n_eq is None else n_eq + term
    return (
        cand.join(sa, ["doc_a", "chunk_a"])
        .join(sb, ["doc_b", "chunk_b"])
        .withColumn("n_matching", n_eq.cast("long"))
        .filter(F.col("n_matching") >= _Q330_MIN_EQ)
        .select(
            "doc_a",
            "chunk_a",
            "doc_b",
            "chunk_b",
            "n_shared_bands",
            "n_matching",
            F.round(F.col("n_matching") / float(_Q330_H), 6).alias(
                "est_jaccard"
            ),
        )
    )


@query("q330_chunk_minhash_neardup", oracle=_q330_oracle())
def q330_chunk_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain MinHash near-dup, hash-checked end to end — the
    fuzzy complement of q319 at the grain pipelines actually mask:
    q319 catches VERBATIM chunk contamination; whitespace/punctuation-
    perturbed near-copies escape exact grams but not MinHash. The
    q163 discipline applied to the full MinHash LSH ladder: an
    ENGINE-INDEPENDENT hash family (md5 of a salted shingle, lex-min
    per salt = one permutation per salt) over the q318 chunk stream's
    3-gram shingles, {_Q330_H} signature components banded into
    {_Q330_BANDS} x 2 bands, candidates from the band equi-join
    (never all-pairs), scored by matching-component fraction and kept
    at est >= 0.5. Same-doc pairs are excluded (overlapping chunks of
    one doc are near-dups by construction). q45/q331 stay the fast
    seeded paths at scale; this twin driver-PROVES the banding +
    estimation semantics. Scale shape: map-side shingle+min per
    chunk, one shuffle on (band, band_hash), candidate volume bounded
    by true collisions (duplicate-doc chunks), signature join keyed
    on (doc, chunk)."""
    sig, bands = _q330_sig_bands(spark, sf_dir)
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("chunk_idx").alias("chunk_a"),
        "band",
        "bh",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("chunk_idx").alias("chunk_b"),
        "band",
        "bh",
    )
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "chunk_a", "doc_b", "chunk_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )
    return _q330_score(cand, sig)


@query("q331_chunk_lsh_pairs", oracle=None)  # seeded engine hash: rows-only
def q331_chunk_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production chunk near-dup path: ``pyspark.ml`` MinHashLSH
    over the q318 chunk stream (the q45 machinery at chunk grain),
    cross-doc pairs at est Jaccard >= 0.5. Seeded engine hash family
    → rows-only driver record; q330 is its oracled md5 twin proving
    the banding + estimation semantics cross-engine. Chunk keys ride
    as 'doc:idx' strings through the LSH (collision-free at any chunk
    count) and decode on output."""
    from databricks_etl_spark.operators.dedup import minhash_lsh_pairs
    from databricks_etl_spark.operators.text import chunk_tokens
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W

    d = read_table(spark, sf_dir, "documents")
    chunks = (
        chunk_tokens(d, _Q318_W, _Q318_S)
        .filter(F.col("n_chunk_tokens") >= 3)
        .select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("ckey"),
            F.col("chunk_text").alias("text"),
        )
    )
    pairs = minhash_lsh_pairs(chunks, threshold=0.5, id_col="ckey")
    ka, kb = F.split(F.col("id_a"), ":"), F.split(F.col("id_b"), ":")
    return (
        pairs.select(
            ka.getItem(0).cast("long").alias("doc_a"),
            ka.getItem(1).cast("long").alias("chunk_a"),
            kb.getItem(0).cast("long").alias("doc_b"),
            kb.getItem(1).cast("long").alias("chunk_b"),
            F.round("est_jaccard", 6).alias("est_jaccard"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )


# ---------------------------------------------------------------------------
# q332 — RAG retrieval eval: chunk embeddings + IVF vs brute-force truth
# ---------------------------------------------------------------------------

_Q332_D = 32  # feature-hash embedding dims
_Q332_K = 8  # IVF cells (comb quantizer: cell j owns dims {i: i%8==j})
_Q332_TOPK = 10


def _q332_nibble(k: int) -> str:
    return f"(instr('0123456789abcdef', substr(md5(t), {k}, 1)) - 1)"


def _q332_emb_list() -> str:
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN bucket = {i} THEN sign ELSE 0 END) AS DOUBLE)"
        for i in range(_Q332_D)
    )
    return f"[{sums}]"


def _q332_cell_case(col: str) -> str:
    """Argmax-with-smallest-j-tiebreak over the comb-cell scores.

    For the indicator-comb centroids c_j (1.0 at dims i % K == j),
    squared distance d2_j = ||x||^2 - 2*s_j + (D/K) where s_j is the
    sum of x at cell j's dims — so argmin d2 with (d2, cid) tiebreak
    is EXACTLY argmax s_j with smallest-j tiebreak (the constant terms
    do not depend on j). The cell assignment is a pure per-row
    expression: no centroid join, no shuffle."""
    s = {
        j: " + ".join(
            f"{col}[{i + 1}]" for i in range(_Q332_D) if i % _Q332_K == j
        )
        for j in range(_Q332_K)
    }
    whens = []
    for j in range(_Q332_K - 1):
        conds = " AND ".join(
            f"({s[j]}) >= ({s[k]})" for k in range(j + 1, _Q332_K)
        )
        whens.append(f"WHEN {conds} THEN {j}")
    return f"CASE {' '.join(whens)} ELSE {_Q332_K - 1} END"


_Q332_NRM = "list_sum(list_transform({v}, x -> x * x))"


def _q332_sim_sql() -> str:
    """Cosine(q.qe, c.ce) rounded to 6 — for CTEs exposing aliases q/c."""
    dot_qc = (
        f"list_sum(list_transform(range(1, {_Q332_D} + 1), "
        f"i -> q.qe[i] * c.ce[i]))"
    )
    return (
        f"round({dot_qc} / (sqrt({_Q332_NRM.format(v='q.qe')})"
        f" * sqrt({_Q332_NRM.format(v='c.ce')})), 6)"
    )


def _q332_base_sql() -> str:
    """Shared CTE chain (chunk + query feature-hash embeddings with IVF
    cells): everything through ``cemb``/``qemb``. THE single source of
    the embedding/quantizer SQL — q332's eval and q341's probe sweep
    (queries_round10) both embed this block so the index definition
    cannot drift between the one-point eval and the sweep."""
    from databricks_etl_spark.plans.queries_round8 import _q318_chunks_sql

    n1, n2, n3 = _q332_nibble(1), _q332_nibble(2), _q332_nibble(3)
    nrm = _Q332_NRM
    return f"""{_q318_chunks_sql("WHERE doc_id % 50 != 0")},
        ctok AS (
            SELECT doc_id, chunk_idx,
                   unnest(string_split(chunk_text, ' ')) AS t
            FROM chunks WHERE n_chunk_tokens >= 1
        ),
        cent AS (
            SELECT doc_id, chunk_idx,
                   ({n1} * 16 + {n2}) % {_Q332_D} AS bucket,
                   CASE WHEN {n3} % 2 = 0 THEN 1 ELSE -1 END AS sign
            FROM ctok WHERE length(t) >= 1
        ),
        cemb0 AS (
            SELECT doc_id, chunk_idx, {_q332_emb_list()} AS ce
            FROM cent GROUP BY 1, 2
        ),
        cemb AS (
            SELECT doc_id, chunk_idx, ce,
                   {_q332_cell_case('ce')} AS cell
            FROM cemb0 WHERE {nrm.format(v='ce')} > 0
        ),
        qtok AS (
            SELECT doc_id AS qid,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents WHERE doc_id % 50 = 0
        ),
        qent AS (
            SELECT qid,
                   ({n1} * 16 + {n2}) % {_Q332_D} AS bucket,
                   CASE WHEN {n3} % 2 = 0 THEN 1 ELSE -1 END AS sign
            FROM qtok WHERE length(t) >= 1
        ),
        qemb0 AS (
            SELECT qid, {_q332_emb_list()} AS qe
            FROM qent GROUP BY 1
        ),
        qemb AS (
            SELECT qid, qe, {_q332_cell_case('qe')} AS cell
            FROM qemb0 WHERE {nrm.format(v='qe')} > 0
        )"""


def _q332_oracle() -> str:
    sim = _q332_sim_sql()
    return f"""
        WITH {_q332_base_sql()},
        s AS (
            SELECT q.qid, c.doc_id, c.chunk_idx,
                   q.cell = c.cell AS same_cell, {sim} AS sim
            FROM qemb q JOIN cemb c ON TRUE
        ),
        truth AS (
            SELECT qid, doc_id, chunk_idx, rk FROM (
                SELECT qid, doc_id, chunk_idx,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, doc_id, chunk_idx) AS rk
                FROM s
            ) WHERE rk <= {_Q332_TOPK}
        ),
        approx AS (
            SELECT qid, doc_id, chunk_idx FROM (
                SELECT qid, doc_id, chunk_idx,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, doc_id, chunk_idx) AS rk
                FROM s WHERE same_cell
            ) WHERE rk <= {_Q332_TOPK}
        ),
        hits AS (
            SELECT t.qid,
                   CAST(COUNT(a.doc_id) AS BIGINT) AS n_hit,
                   MIN(CASE WHEN t.rk = 1 AND a.doc_id IS NOT NULL
                            THEN 1.0 END) AS top1_found
            FROM truth t
            LEFT JOIN approx a ON t.qid = a.qid AND t.doc_id = a.doc_id
                              AND t.chunk_idx = a.chunk_idx
            GROUP BY t.qid
        ),
        per AS (
            SELECT qid,
                   CAST(round(n_hit / {_Q332_TOPK}.0, 6)
                        AS DECIMAL(18,9)) AS recall10,
                   CAST(COALESCE(top1_found, 0.0) AS DECIMAL(18,9)) AS top1
            FROM hits
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(recall10) AS DOUBLE) / COUNT(*), 6)
                   AS mean_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS top1_recall
        FROM per
    """


def _q332_embed(df: DataFrame, id_cols: list[str], tok_col) -> DataFrame:
    """Feature-hash embedding: md5-nibble bucket + sign per token,
    {_Q332_D} signed-count dims per entity — deterministic on any
    engine (the hashing-trick twin of the q163 md5 discipline). All
    values are small exact integers in double, so every downstream
    dot/norm is float-exact and engine-identical."""
    # r16: the per-dim expressions are built as SQL STRINGS compiled by
    # ONE F.expr each — the former per-Column construction crossed
    # py4j ~6 times per node, and this builder sits on the q332/q341/
    # q388/q396/q406/q577+ hot path where DataFrame BUILD time (not
    # execution) dominated the bench lane (profiled ~19k py4j round
    # trips ≈ 3s per q388 invocation). Semantics byte-identical: same
    # CASE shape, same left-associative fold order.
    n = [
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("t"), k, 1)) - 1
        for k in (1, 2, 3)
    ]
    ent = df.select(
        *id_cols, F.explode(tok_col).alias("t")
    ).filter(F.length("t") >= 1).select(
        *id_cols,
        ((n[0] * 16 + n[1]) % _Q332_D).alias("bucket"),
        F.when(n[2] % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    # (A two-level groupBy((ids, bucket)) → map-assembly variant was
    # measured r16: it halves the generated-source size but pays two
    # exchanges + an ObjectHashAggregate and came out net-slower at
    # sf0.1 — the single-exchange 32-conditional-sum form stays.)
    sums = [
        F.expr(
            f"CAST(SUM(CASE WHEN bucket = {i} THEN sign ELSE 0 END)"
            f" AS DOUBLE) AS __e{i}"
        )
        for i in range(_Q332_D)
    ]
    arr = ", ".join(f"__e{i}" for i in range(_Q332_D))
    return (
        ent.groupBy(*id_cols)
        .agg(*sums)
        .select(*id_cols, F.expr(f"array({arr}) AS emb"))
    )


def _q332_cell_sums(name: str) -> list[str]:
    """Per-cell dim-sum SQL strings over array column ``name`` — the
    same left-associative ``0.0 + e_{j} + e_{j+K} + …`` fold order as
    the former Column-level builder (float-exact equivalence)."""
    return [
        "(0.0D + "
        + " + ".join(
            f"element_at({name}, {i + 1})"
            for i in range(_Q332_D)
            if i % _Q332_K == j
        )
        + ")"
        for j in range(_Q332_K)
    ]


def _q332_cell(name: str) -> F.Column:
    """Argmax cell (smallest-id tiebreak) over array column ``name``,
    compiled from ONE SQL string (r16: the former per-Column build of
    the nested when-chain was ~200 py4j round trips per call site on
    the retrieval hot path). Same nested-CASE semantics: first j whose
    s_j >= every later s_k, else K-1.

    Prefer :func:`_q332_add_cell` on hot paths — this single-Column
    form inlines each 4-term dim sum into every one of the ~56
    comparisons, and whole-stage codegen re-generates its Java source
    from that tree on EVERY action (~0.5 MB of source per scored pass,
    measured ~1.3 s/action of driver-side source generation on q388)."""
    s = _q332_cell_sums(name)
    whens = " ".join(
        "WHEN "
        + " AND ".join(f"{s[j]} >= {s[k]}" for k in range(j + 1, _Q332_K))
        + f" THEN {j}"
        for j in range(_Q332_K - 1)
    )
    return F.expr(f"CASE {whens} ELSE {_Q332_K - 1} END")


def _q332_with_sums(df: DataFrame, name: str) -> DataFrame:
    """Append ``__cs0..__cs{K-1}`` — the per-cell dim sums of array
    column ``name``, byte-identical fold order to
    :func:`_q332_cell_sums` — as REAL columns in their own projection
    (guide §1.2 "per-task work", here the task is the DRIVER's codegen:
    WholeStageCodegenExec rebuilds its Java source on every action, so
    a tree that inlines each sum 10+ times costs ~1.3 s/action of pure
    source generation on the q388 scored pass). Downstream cell/rank
    expressions reference these small column refs instead;
    CollapseProject keeps the projection barrier because each sum is
    consumed more than once. Values are identical — the sums are the
    same expressions, computed once instead of textually repeated."""
    s = _q332_cell_sums(name)
    return df.select(
        "*", *[F.expr(f"{e} AS __cs{j}") for j, e in enumerate(s)]
    )


def _q332_cell_from_sums() -> F.Column:
    """The :func:`_q332_cell` argmax CASE over the ``__cs{j}`` sum
    columns of :func:`_q332_with_sums` — same comparison chain and
    tiebreak, tiny codegen footprint."""
    whens = " ".join(
        "WHEN "
        + " AND ".join(
            f"__cs{j} >= __cs{k}" for k in range(j + 1, _Q332_K)
        )
        + f" THEN {j}"
        for j in range(_Q332_K - 1)
    )
    return F.expr(f"CASE {whens} ELSE {_Q332_K - 1} END")


def _q332_add_cell(df: DataFrame, name: str, out: str = "cell") -> DataFrame:
    """``df`` + argmax cell of array column ``name`` as ``out`` —
    the two-projection (sums, then small CASE) form of
    ``withColumn(out, _q332_cell(name))``; identical values."""
    return _q332_with_sums(df, name).select(
        *df.columns, _q332_cell_from_sums().alias(out)
    )


def _q332_relations(spark: SparkSession, sf_dir: str):
    """Spark twin of :func:`_q332_base_sql`: the shared index/query
    relations ``cemb`` (doc_id, chunk_idx, ce, cell) and ``qemb``
    (qid, qe, qcell) — q332's one-point eval and q341's probe sweep
    (queries_round10) build on the same pair so the quantizer cannot
    drift between them."""
    from databricks_etl_spark.operators.text import chunk_tokens, tokens_col
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    chunks = chunk_tokens(corpus, _Q318_W, _Q318_S).select(
        "doc_id", "chunk_idx", tokens_col("chunk_text").alias("__toks")
    )
    nrm = lambda v: F.aggregate(  # noqa: E731
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    cemb = _q332_add_cell(
        _q332_embed(chunks, ["doc_id", "chunk_idx"], F.col("__toks")).filter(
            nrm(F.col("emb")) > 0
        ),
        "emb",
    ).select("doc_id", "chunk_idx", F.col("emb").alias("ce"), "cell")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"), tokens_col("text").alias("__toks")
    )
    qemb = _q332_add_cell(
        _q332_embed(bench, ["qid"], F.col("__toks")).filter(
            nrm(F.col("emb")) > 0
        ),
        "emb",
        out="qcell",
    ).select("qid", F.col("emb").alias("qe"), "qcell")
    return cemb, qemb


@query("q332_rag_retrieval_eval", oracle=_q332_oracle())
def q332_rag_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval evaluation, fully oracled — WHY the chunk lane
    exists: the q318 chunk stream is embedded (deterministic
    feature-hash embedding: md5-nibble bucket + sign per token — the
    model-free stand-in with the exact plumbing of a real encoder),
    indexed into {_Q332_K} IVF cells by a comb quantizer whose cell
    assignment reduces to a PURE per-row expression (argmax of per-
    cell dim sums — no centroid join, no shuffle), and benchmark docs
    (doc_id % 50 == 0) query it. Cell-restricted (n_probe=1) top-10
    retrieval is scored against the exact brute-force truth:
    recall@10 and top-1 recall, the q310 evaluation machinery at
    chunk grain. Scale shape: the query set is broadcast, chunk
    scoring is one map-side pass, both rankings share one scored
    relation and the (sim DESC, doc, chunk) total order; all
    embedding values are small exact integers so every cross-engine
    float op is exact."""
    from databricks_etl_spark.operators.similarity import norm, paired_cosine

    cemb, qemb = _q332_relations(spark, sf_dir)
    s = (
        cemb.withColumn("__cn", norm(F.col("ce")))
        .join(F.broadcast(qemb.withColumn("__qn", norm(F.col("qe")))), F.lit(True))
        .select(
            "qid",
            "doc_id",
            "chunk_idx",
            (F.col("cell") == F.col("qcell")).alias("same_cell"),
            F.round(
                paired_cosine(
                    F.col("qe"), F.col("ce"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("sim"),
        )
        .localCheckpoint(eager=False)  # one scoring pass feeds both rankings
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("sim"), F.asc("doc_id"), F.asc("chunk_idx")
    )
    truth = (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q332_TOPK)
        .select("qid", "doc_id", "chunk_idx", "rk")
    )
    ann = (
        s.filter("same_cell")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q332_TOPK)
        .select(
            F.col("qid").alias("__aq"),
            F.col("doc_id").alias("__ad"),
            F.col("chunk_idx").alias("__ac"),
        )
    )
    hits = (
        truth.join(
            ann,
            (F.col("qid") == F.col("__aq"))
            & (F.col("doc_id") == F.col("__ad"))
            & (F.col("chunk_idx") == F.col("__ac")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("__ad").cast("long").alias("n_hit"),
            F.min(
                F.when((F.col("rk") == 1) & F.col("__ad").isNotNull(), 1.0)
            ).alias("top1_found"),
        )
    )
    per = hits.select(
        F.round(F.col("n_hit") / float(_Q332_TOPK), 6)
        .cast("decimal(18,9)")
        .alias("recall10"),
        F.coalesce("top1_found", F.lit(0.0))
        .cast("decimal(18,9)")
        .alias("top1"),
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("recall10").cast("double") / n, 6).alias(
            "mean_recall_at_10"
        ),
        F.round(F.sum("top1").cast("double") / n, 6).alias("top1_recall"),
    )


# ---------------------------------------------------------------------------
# q333 — partial-overlap docs: doc-level rollup of chunk near-dups
# ---------------------------------------------------------------------------


def _q333_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import _q318_chunks_sql

    return f"""
        WITH {_q318_chunks_sql("WHERE doc_id % 50 != 0")},
        tot AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM chunks WHERE n_chunk_tokens >= 3 GROUP BY 1
        ),
        prs AS (SELECT * FROM ({_q330_oracle()})),
        sym AS (
            SELECT doc_a AS doc_id, doc_b AS other_doc, chunk_a AS chunk_idx
            FROM prs
            UNION ALL
            SELECT doc_b AS doc_id, doc_a AS other_doc, chunk_b AS chunk_idx
            FROM prs
        ),
        cov AS (
            SELECT doc_id, other_doc,
                   CAST(COUNT(DISTINCT chunk_idx) AS BIGINT)
                       AS n_overlap_chunks
            FROM sym GROUP BY 1, 2
        )
        SELECT c.doc_id, c.other_doc, c.n_overlap_chunks, t.n_chunks,
               round(CAST(c.n_overlap_chunks AS DOUBLE) / t.n_chunks, 6)
                   AS containment
        FROM cov c JOIN tot t ON c.doc_id = t.doc_id
        WHERE CAST(c.n_overlap_chunks AS DOUBLE) / t.n_chunks >= 0.25
    """


@query("q333_partial_overlap_docs", oracle=None)  # oracle set below
def q333_partial_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY chunk-grain dedup exists, rolled back up to doc grain:
    doc-level MinHash (q45) misses a document that copies 30%% of
    another (whole-doc Jaccard dilutes below any sane threshold), but
    the copied CHUNKS pair up in q330 — this rollup reports, per
    ordered (doc, other_doc) direction, how much of the doc's chunk
    stream has a near-dup counterpart in the other: the containment
    estimate at chunk grain (the q238 containment lane's scalable
    sibling — candidate generation is q330's banding, never an
    all-pairs posting join). Directional by design: a small doc fully
    contained in a big one scores ~1.0 in that direction and low in
    the reverse — exactly the asymmetry survivorship policies key on.
    Kept at containment >= 0.25. Grain note: q330 pairs span ALL
    documents, but the containment denominator (and therefore the
    reported ``doc_id`` side) covers CORPUS docs only — overlap with
    a benchmark doc still counts toward a corpus doc's containment
    (that overlap is contamination-adjacent signal, not noise); the
    oracle applies the identical corpus filter."""
    from databricks_etl_spark.operators.text import chunk_tokens
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    tot = (
        chunk_tokens(corpus, _Q318_W, _Q318_S)
        .filter(F.col("n_chunk_tokens") >= 3)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    )
    prs = q330_chunk_minhash_neardup(spark, sf_dir)
    sym = prs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("other_doc"),
        F.col("chunk_a").alias("chunk_idx"),
    ).unionByName(
        prs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("other_doc"),
            F.col("chunk_b").alias("chunk_idx"),
        )
    )
    cov = sym.groupBy("doc_id", "other_doc").agg(
        F.countDistinct("chunk_idx").cast("long").alias("n_overlap_chunks")
    )
    ratio = F.col("n_overlap_chunks").cast("double") / F.col("n_chunks")
    return (
        cov.join(tot, "doc_id")
        .filter(ratio >= 0.25)
        .select(
            "doc_id",
            "other_doc",
            "n_overlap_chunks",
            "n_chunks",
            F.round(ratio, 6).alias("containment"),
        )
    )


QUERIES["q333_partial_overlap_docs"] = _replace(
    QUERIES["q333_partial_overlap_docs"], oracle=_q333_oracle()
)


# ---------------------------------------------------------------------------
# q334 — epoch token accounting: the dataloader stream audits the budget
# ---------------------------------------------------------------------------


def _q334_oracle() -> str:
    o326 = _q326_oracle()
    o323 = QUERIES["q323_epoch_allocation"].oracle
    return f"""
        WITH ord AS MATERIALIZED (SELECT * FROM ({o326})),
        src AS (SELECT doc_id, source FROM documents),
        per_epoch AS (
            SELECT s.source, o.epoch,
                   CAST(COUNT(*) AS BIGINT) AS n_doc_slots
            FROM ord o JOIN src s ON o.doc_id = s.doc_id
            GROUP BY 1, 2
        ),
        realized AS (
            SELECT source,
                   CAST(COUNT(DISTINCT epoch) AS BIGINT) AS epochs_realized,
                   CAST(SUM(n_doc_slots) AS BIGINT) AS total_doc_slots
            FROM per_epoch GROUP BY 1
        ),
        plan AS (SELECT source, epochs AS epochs_planned FROM ({o323}))
        SELECT p.source, p.epochs_planned, r.epochs_realized,
               COALESCE(r.total_doc_slots, 0) AS total_doc_slots,
               (r.epochs_realized = p.epochs_planned) AS epochs_consistent
        FROM plan p JOIN realized r ON p.source = r.source
    """


@query("q334_epoch_token_accounting", oracle=None)  # oracle set below
def q334_epoch_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consistency audit between the PLAN (q323: how many epochs
    each source earned) and the STREAM (q326: what the dataloader
    actually replays): per source, planned epochs vs epochs realized
    in the order artifact and the total doc-slots scheduled — the
    row a training lead checks before launch (a mismatch means the
    packing or shuffle dropped or duplicated work). Composes the two
    registered queries so the audit can never drift from the
    artifacts it reconciles; sources whose every doc was gated out by
    q312 (nothing shipped) simply have no realized rows and drop from
    the inner join — the audit covers every source that ships
    anything."""
    from databricks_etl_spark.plans.queries_round8 import (
        q323_epoch_allocation,
    )

    ordr = q326_dataloader_order(spark, sf_dir)
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_epoch = (
        ordr.join(src, "doc_id")
        .groupBy("source", "epoch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_doc_slots"))
    )
    realized = per_epoch.groupBy("source").agg(
        F.countDistinct("epoch").cast("long").alias("epochs_realized"),
        F.sum("n_doc_slots").cast("long").alias("total_doc_slots"),
    )
    plan = q323_epoch_allocation(spark, sf_dir).select(
        "source", F.col("epochs").alias("epochs_planned")
    )
    return plan.join(realized, "source").select(
        "source",
        "epochs_planned",
        "epochs_realized",
        F.coalesce("total_doc_slots", F.lit(0)).cast("long").alias(
            "total_doc_slots"
        ),
        (F.col("epochs_realized") == F.col("epochs_planned")).alias(
            "epochs_consistent"
        ),
    )


QUERIES["q334_epoch_token_accounting"] = _replace(
    QUERIES["q334_epoch_token_accounting"], oracle=_q334_oracle()
)


# ---------------------------------------------------------------------------
# q337 — split-leakage audit at chunk grain (q330 pairs x q234 splits)
# ---------------------------------------------------------------------------


def _q337_split_sql(col: str) -> str:
    from databricks_etl_spark.plans.queries_round5 import split_sql

    return split_sql(col)


def _q337_oracle() -> str:
    return f"""
        WITH prs AS MATERIALIZED (SELECT * FROM ({_q330_oracle()})),
        lab AS (
            SELECT {_q337_split_sql('doc_a')} AS split_a,
                   {_q337_split_sql('doc_b')} AS split_b
            FROM prs
        )
        SELECT split_a, split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               (split_a <> split_b) AS is_leakage
        FROM lab GROUP BY 1, 2
    """


@query("q337_split_leakage_audit", oracle=_q337_oracle())
def q337_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene capstone for the chunk lanes: near-verbatim chunk
    pairs (q330) whose parent documents land in DIFFERENT q234
    train/val/test splits are evaluation leakage — the held-out set
    contains passages the model trained on, which doc-level split
    hygiene (q237/q289) cannot see when only a FRACTION of the doc
    was copied (exactly the q333 partial-overlap case). The audit is
    the (split_a, split_b) pair-count matrix with a leakage flag;
    split assignment is the q234 portable md5 rule, a pure per-row
    expression — the whole audit adds one bounded 3x3 rollup on top
    of q330's banding."""
    from databricks_etl_spark.plans.queries_round5 import split_col

    prs = q330_chunk_minhash_neardup(spark, sf_dir)

    return (
        prs.select(
            split_col("doc_a").alias("split_a"),
            split_col("doc_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
    )


# ---------------------------------------------------------------------------
# q338 — tokenizer vocabulary-coverage audit (fallback ratio per source)
# ---------------------------------------------------------------------------


def _q338_oracle() -> str:
    from databricks_etl_spark.operators.text import (
        SUBWORD_VOCAB_2,
        SUBWORD_VOCAB_3,
        SUBWORD_VOCAB_4,
    )

    v4 = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB_4)
    v3 = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB_3)
    v2 = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB_2)
    ml = (
        f"CASE WHEN substr(w, pos, 4) IN ({v4}) THEN 4 "
        f"WHEN substr(w, pos, 3) IN ({v3}) THEN 3 "
        f"WHEN substr(w, pos, 2) IN ({v2}) THEN 2 ELSE 1 END"
    )
    return f"""
        WITH RECURSIVE
        tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ),
        vt AS (SELECT doc_id, w FROM tok WHERE length(w) >= 1),
        words AS (SELECT DISTINCT w FROM vt),
        tk AS (
            SELECT w, 1 AS pos, 0 AS cnt, 0 AS unk FROM words
            UNION ALL
            SELECT w, pos + {ml}, cnt + 1,
                   unk + CASE WHEN {ml} = 1 THEN 1 ELSE 0 END
            FROM tk WHERE pos <= length(w)
        ),
        wc AS (
            SELECT w, MAX(cnt) AS pieces, MAX(unk) AS fallbacks
            FROM tk GROUP BY 1
        ),
        per AS (
            SELECT s.source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(wc.pieces) AS BIGINT) AS n_pieces,
                   CAST(SUM(wc.fallbacks) AS BIGINT) AS n_fallback_pieces
            FROM vt
            JOIN documents s ON vt.doc_id = s.doc_id
            JOIN wc USING (w)
            GROUP BY 1
        )
        SELECT source, n_words, n_pieces, n_fallback_pieces,
               round(CAST(n_fallback_pieces AS DOUBLE) / n_pieces, 6)
                   AS fallback_ratio,
               round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS fertility
        FROM per
    """


@query("q338_vocab_coverage_audit", oracle=_q338_oracle())
def q338_vocab_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER tokenizer-quality metric next to q328's fertility:
    what fraction of emitted pieces are 1-char FALLBACKS (no vocab
    entry matched — the subword analog of q142's OOV rate), per
    ingestion source. A source whose fallback ratio spikes is text
    the vocabulary was not built for (new language, code, corruption)
    — the signal that triggers retraining the tokenizer before it
    silently inflates sequence lengths and training cost. Same
    distinct-word fold as q328 with a second accumulator
    (``subword_piece_stats``); per-source rollup is bounded-key."""
    from databricks_etl_spark.operators.text import (
        subword_piece_stats,
        tokens_col,
    )

    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("w")
    ).filter(F.length("w") >= 1)
    wc = (
        tok.select("w")
        .distinct()
        .select("w", subword_piece_stats(F.col("w")).alias("st"))
        .select("w", F.col("st.cnt").alias("pieces"), F.col("st.unk").alias("fallbacks"))
    )
    per = (
        tok.join(wc, "w")
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("pieces").cast("long").alias("n_pieces"),
            F.sum("fallbacks").cast("long").alias("n_fallback_pieces"),
        )
    )
    return per.select(
        "source",
        "n_words",
        "n_pieces",
        "n_fallback_pieces",
        F.round(
            F.col("n_fallback_pieces").cast("double") / F.col("n_pieces"), 6
        ).alias("fallback_ratio"),
        F.round(F.col("n_pieces").cast("double") / F.col("n_words"), 6).alias(
            "fertility"
        ),
    )


# ---------------------------------------------------------------------------
# q339 — per-source data card (the release datasheet)
# ---------------------------------------------------------------------------


def _q339_oracle() -> str:
    o322 = QUERIES["q322_decontamination_cost"].oracle
    o323 = QUERIES["q323_epoch_allocation"].oracle
    o338 = QUERIES["q338_vocab_coverage_audit"].oracle
    return rf"""
        WITH ep AS MATERIALIZED (SELECT * FROM ({o323})),
        dc AS MATERIALIZED (SELECT * FROM ({o322})),
        vc AS MATERIALIZED (SELECT * FROM ({o338})),
        fp AS (
            SELECT source,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS f
            FROM documents
        ),
        cl AS (
            SELECT source, f, COUNT(*) AS k FROM fp GROUP BY 1, 2
        ),
        dup AS (
            SELECT source,
                   CAST(SUM(k) AS BIGINT) AS n_docs_fp,
                   CAST(SUM(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT)
                       AS n_dup_docs
            FROM cl GROUP BY 1
        )
        SELECT ep.source, ep.n_docs, ep.total_tokens, ep.mean_quality,
               ep.epochs, ep.effective_tokens,
               round(CAST(dup.n_dup_docs AS DOUBLE) / dup.n_docs_fp, 6)
                   AS exact_dup_rate,
               dc.cost_ratio AS contamination_cost_ratio,
               vc.fallback_ratio, vc.fertility
        FROM ep
        JOIN dup ON ep.source = dup.source
        JOIN dc ON ep.source = dc.source
        JOIN vc ON ep.source = vc.source
    """


@query("q339_source_datacard", oracle=None)  # oracle set below
def q339_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATA CARD a corpus release ships with — one row
    per ingestion feed composing the audits this engine runs: volume
    and quality with the earned epoch budget (q323), the exact-dup
    rate (fraction of docs inside a >1-member md5 fingerprint
    cluster, q321's window stated as a rate), the chunk-level
    decontamination cost (q322), and the tokenizer coverage metrics
    (q338's fallback ratio + fertility). Every input is an
    already-oracled registered lane and the composition is
    source-keyed joins over a bounded (per-source) key space — the
    datasheet can never drift from the audits it summarizes."""
    from databricks_etl_spark.operators.text import md5_fingerprint
    from databricks_etl_spark.plans.queries_round8 import (
        q322_decontamination_cost,
        q323_epoch_allocation,
    )

    d = read_table(spark, sf_dir, "documents")
    epochs = q323_epoch_allocation(spark, sf_dir)
    dc = q322_decontamination_cost(spark, sf_dir).select(
        "source", F.col("cost_ratio").alias("contamination_cost_ratio")
    )
    vc = q338_vocab_coverage_audit(spark, sf_dir).select(
        "source", "fallback_ratio", "fertility"
    )
    fp = md5_fingerprint(d).select("doc_id", F.col("md5_fp").alias("f")).join(
        d.select("doc_id", "source"), "doc_id"
    )
    cl = fp.groupBy("source", "f").agg(F.count(F.lit(1)).alias("k"))
    dup = cl.groupBy("source").agg(
        F.sum("k").cast("long").alias("n_docs_fp"),
        F.sum(F.when(F.col("k") > 1, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
    )
    return (
        epochs.join(dup, "source")
        .join(dc, "source")
        .join(vc, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_quality",
            "epochs",
            "effective_tokens",
            F.round(
                F.col("n_dup_docs").cast("double") / F.col("n_docs_fp"), 6
            ).alias("exact_dup_rate"),
            "contamination_cost_ratio",
            "fallback_ratio",
            "fertility",
        )
    )


QUERIES["q339_source_datacard"] = _replace(
    QUERIES["q339_source_datacard"], oracle=_q339_oracle()
)


# ---------------------------------------------------------------------------
# q340 — chunk-stream packing (the embedding-batch plan)
# ---------------------------------------------------------------------------

_Q340_CK = 1_000_000  # chunk key multiplier: doc_id * 1e6 + chunk_idx.
# Bounds (documented, not silent): chunk_idx < 1e6 ⟺ < 32M tokens per
# document at the q318 stride — far beyond any real document (book-scale
# is ~1e5–1e6 tokens); doc_id < 9.2e12 for BIGINT headroom ⟺ ~180× the
# doc count of a 100 TB corpus at 2 KB/doc. The q319 ADVICE fix moved
# that lane to string keys; packing needs an ORDERABLE integral key for
# the FFD total order, so here the multiplier is widened instead and
# the bounds stated.


def _q340_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import (
        _ffd_oracle,
        _q318_chunks_sql,
    )

    items = f"""WITH {_q318_chunks_sql()}
        SELECT doc_id * {_Q340_CK} + chunk_idx AS doc_id,
               n_chunk_tokens AS len
        FROM chunks"""
    inner = _ffd_oracle(items)
    return f"""
        WITH packed AS MATERIALIZED (SELECT * FROM ({inner}))
        SELECT CAST(doc_id // {_Q340_CK} AS BIGINT) AS doc_id,
               CAST(doc_id % {_Q340_CK} AS BIGINT) AS chunk_idx,
               seq_id, seq_offset, n_tokens
        FROM packed
    """


@query("q340_chunk_packing", oracle=_q340_oracle())
def q340_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing at CHUNK grain — the embedding-batch plan on the RAG
    side of the chunk stream: an embedding service batches by token
    budget, and packing the q318 chunks into 256-token sequences is
    what sizes those batches (the q313 training-sequence planner's
    serving-side sibling; q176 audits fill of a naive chunk relation,
    this PLANS the packed one). Same ``ffd_pack`` operator and
    recursive-CTE oracle as q313/q329 — the third length source
    through one placement logic. Chunk identity rides as
    doc_id * 1e6 + chunk_idx (orderable key for the FFD total order;
    bounds documented at the constant, decoded on output)."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.operators.text import chunk_tokens
    from databricks_etl_spark.plans.queries_round8 import (
        _Q313_B,
        _Q313_P,
        _Q318_S,
        _Q318_W,
    )

    d = read_table(spark, sf_dir, "documents")
    items = chunk_tokens(d, _Q318_W, _Q318_S).select(
        (F.col("doc_id") * _Q340_CK + F.col("chunk_idx")).alias("ck"),
        F.col("n_chunk_tokens").alias("len"),
    )
    packed = ffd_pack(items, _Q313_B, _Q313_P, id_col="ck")
    # DIV/%: exact integral decode (double division would lose bits
    # once keys pass 2^53)
    return packed.select(
        F.expr(f"doc_id DIV {_Q340_CK}").cast("long").alias("doc_id"),
        (F.col("doc_id") % _Q340_CK).cast("long").alias("chunk_idx"),
        "seq_id",
        "seq_offset",
        "n_tokens",
    )
