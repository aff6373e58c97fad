r"""Round-7 queries: exact-substring decontamination (the verbatim-copy
rung under the n-gram contamination lane q152/q227) and SemDeDup-style
embedding-cluster dedup (the semantic rung under the MinHash/embedding
near-dup lanes) — the two remaining production decontamination/dedup
shapes a 100 TB training-data pipeline runs (VERDICT r6 #4/#5).

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) have no text-corpus machinery at all;
these extend the engine's north-star LLM-data surface (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.operators import similarity as SIM
from databricks_etl_spark.operators import text as TX
from databricks_etl_spark.plans.queries_similarity import _dot_sql
from databricks_etl_spark.plans.registry import query
from databricks_etl_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# q283/q284 — exact-substring contamination (gram length 24, corpus
# stride 8: any verbatim overlap of >= 24+8-1 = 31 chars is always hit)
# ---------------------------------------------------------------------------

_XL = 24  # gram length
_XS = 8  # corpus-side stride

# benchmark side: every offset (stride 1); corpus side: every _XS-th.
# list_distinct mirrors the engine's array_distinct (per-doc dedup
# before counting, so n_grams_hit counts DISTINCT corpus grams hit).
_X_BGRAMS = f"""
        bg AS (
            SELECT doc_id AS bench_id,
                   list_distinct(list_transform(range(1, length(text) - {_XL - 2}),
                       i -> substr(text, CAST(i AS INT), {_XL}))) AS gs
            FROM documents WHERE doc_id % 50 = 0 AND length(text) >= {_XL}
        ),
        bgrams AS (SELECT bench_id, unnest(gs) AS gram FROM bg),
        cg AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, length(text) - {_XL - 2}, {_XS}),
                       i -> substr(text, CAST(i AS INT), {_XL}))) AS gs
            FROM documents WHERE doc_id % 50 != 0 AND length(text) >= {_XL}
        ),
        cgrams AS (SELECT doc_id, unnest(gs) AS gram FROM cg)"""


@query(
    "q283_exact_contamination_pairs",
    oracle=f"""
        WITH {_X_BGRAMS}
        SELECT doc_id, bench_id, CAST(COUNT(*) AS BIGINT) AS n_grams_hit
        FROM cgrams JOIN bgrams USING (gram)
        GROUP BY 1, 2
    """,
)
def q283_exact_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark contamination, pair-level: every
    (training doc, benchmark doc) pair sharing a verified verbatim
    24-char gram, with the count of corpus grams hit — the
    reference-free twin of a suffix-array decontamination scan. The
    n-gram lane (q152) catches token-level overlap; this catches
    byte-exact copies (any shared span >= 31 chars is guaranteed hit by
    the stride math, see ``operators/text.exact_substring_hits``).

    Plan: corpus grams carry xxhash64 only; the benchmark (id, hash)
    set and its texts broadcast; candidates are verified by substring
    containment, which deletes hash collisions — so the hash join is
    an optimization, never a semantics change, and the oracle's plain
    gram-equality join states the same relation."""
    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = d.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
    return TX.exact_substring_hits(corpus, bench, length=_XL, stride=_XS)


@query(
    "q284_scorecard_exact_contamination",
    oracle=f"""
        WITH {_X_BGRAMS},
        hitdocs AS (
            SELECT DISTINCT cgrams.doc_id FROM cgrams JOIN bgrams USING (gram)
        ),
        corpus_docs AS (
            SELECT doc_id, source FROM documents WHERE doc_id % 50 != 0
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(h.doc_id) AS BIGINT) AS n_exact_contaminated,
               round(CAST(COUNT(h.doc_id) AS DOUBLE) / COUNT(*), 6)
                   AS exact_contamination_rate
        FROM corpus_docs c LEFT JOIN hitdocs h USING (doc_id)
        GROUP BY source
    """,
)
def q284_scorecard_exact_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exact-substring audit composed into the per-source
    scorecard (q246's drill-down shape): for each ingestion feed, how
    many of its training docs contain a verbatim benchmark span. A
    feed scraping the eval set verbatim shows a nonzero rate here even
    when paraphrase-level contamination (q246's 4-gram rate) is noisy.
    Docs too short to carry a 24-char gram stay in the denominator —
    they are clean by definition, not excluded."""
    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    pairs = TX.exact_substring_hits(
        corpus.select("doc_id", "text"), bench, length=_XL, stride=_XS
    )
    flag = pairs.select("doc_id").distinct().withColumn("__x", F.lit(1))
    n = F.count(F.lit(1))
    return (
        corpus.select("doc_id", "source")
        .join(flag, "doc_id", "left")
        .groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.count("__x").cast("long").alias("n_exact_contaminated"),
            F.round(F.count("__x").cast("double") / n, 6).alias(
                "exact_contamination_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q285/q286 — SemDeDup-style embedding-cluster dedup
# ---------------------------------------------------------------------------

# 8 fixed orthogonal "comb" centroids in 64-dim: centroid j is 1.0 at
# every coordinate i with i % 8 == j. Deterministic, shared verbatim by
# engine and oracle (q214's literal-centers pattern lifted to 64-dim).
_Q285_K = 8
_Q285_DIM = 64
_Q285_CENTS: list[list[float]] = [
    [1.0 if i % _Q285_K == j else 0.0 for i in range(_Q285_DIM)]
    for j in range(_Q285_K)
]
_Q285_T = 0.35  # dedup threshold — same τ as the q193 exact rung

_Q285_D2 = (
    "list_sum(list_transform(range(1, len(embedding) + 1), "
    "i -> (CAST(embedding[i] AS DOUBLE) - c[i])"
    " * (CAST(embedding[i] AS DOUBLE) - c[i])))"
)


def _quality_sql(src: str = "documents") -> str:
    """q258's composite quality-score expression (verbatim — the
    survivor-priority the SemDeDup prune reuses), as a CTE body.
    ``src`` lets a composing oracle score a derived doc set (q326's
    delta batch) with the identical expression."""
    from databricks_etl_spark.plans.queries_text import _STOP_ALL
    from databricks_etl_spark.plans.queries_text import _TOKS as _TTOKS

    return f"""
        q AS (
            SELECT doc_id,
                   CAST(
                     (CASE WHEN len({_TTOKS}) BETWEEN 5 AND 1000
                           THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN CAST(length(text)
                             - length(regexp_replace(text,
                                 '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                             / length(text) < 0.1 THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN CAST(len(list_filter({_TTOKS},
                             t -> t IN ({_STOP_ALL}))) AS DOUBLE)
                             / len({_TTOKS}) > 0.01 THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN CAST(length(text) - (len({_TTOKS}) - 1)
                             AS DOUBLE) / len({_TTOKS})
                             BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
                     AS DOUBLE) AS quality_score
            FROM {src}
        )"""


def _q285_oracle() -> str:
    vals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    sim = (
        f"round({_dot_sql('a.embedding', 'b.embedding')}"
        f" / (sqrt({_dot_sql('a.embedding', 'a.embedding')})"
        f" * sqrt({_dot_sql('b.embedding', 'b.embedding')})), 6)"
    )
    return f"""
        WITH cents(cid, c) AS (VALUES {vals}),
        asg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM embeddings, cents
        ),
        cells AS (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM asg WHERE rn = 1
        ),
        {_quality_sql()},
        lab AS (
            -- LEFT join: the operator's contract keeps vectors with no
            -- quality row (NULL score, ranked below every scored
            -- member via the -infinity coalesce in the dominance
            -- order only — mirrors semdedup_prune exactly)
            SELECT cells.vec_id, cells.embedding, cells.cell_id,
                   q.quality_score,
                   COALESCE(q.quality_score,
                            CAST('-infinity' AS DOUBLE)) AS qrank
            FROM cells LEFT JOIN q ON cells.vec_id = q.doc_id
        ),
        dom AS (
            SELECT DISTINCT a.vec_id
            FROM lab a JOIN lab b
              ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
            WHERE {sim} >= {_Q285_T}
              AND (b.qrank > a.qrank
                   OR (b.qrank = a.qrank AND b.vec_id < a.vec_id))
        )
        SELECT l.vec_id, l.cell_id,
               (dom.vec_id IS NOT NULL) AS pruned,
               l.quality_score
        FROM lab l LEFT JOIN dom ON l.vec_id = dom.vec_id
    """


@query("q285_semdedup_fixed_centroids", oracle=None)  # oracle set below
def q285_semdedup_fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with FIXED literal centroids — the hash-checkable twin
    of the seeded-KMeans production run (q286), the same way q214
    twins the KMeans assignment step. Vectors are cell-assigned by
    squared-euclidean argmin against 8 broadcast comb centroids; a
    member is pruned iff a strictly higher-priority near-duplicate
    (cosine ≥ 0.35; priority = quality DESC, vec_id ASC — q258's
    survivor rule, quality joined from the documents table on
    vec_id = doc_id) exists IN ITS CELL. All folds are the sequential
    zip_with/aggregate shape, bit-identical to the DuckDB list_sum
    oracle; output is one row per vector."""
    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    quality = TX.quality_features(d).select(
        F.col("doc_id").alias("vec_id"), "quality_score"
    )
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    # dim declared: the embeddings table contracts fixed-width dense
    # vectors (len(_Q285_CENTS[0])), letting the pair dot compile to
    # the flat codegen form (bit-identical; operators/similarity.py)
    return SIM.semdedup_prune(
        e, cents, quality, _Q285_T, dim=len(_Q285_CENTS[0])
    )


from dataclasses import replace as _replace  # noqa: E402

from databricks_etl_spark.plans.registry import QUERIES as _Q  # noqa: E402

_Q["q285_semdedup_fixed_centroids"] = _replace(
    _Q["q285_semdedup_fixed_centroids"], oracle=_q285_oracle()
)


@query("q286_semdedup_ivf", oracle=None)
def q286_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SemDeDup run: centroids come from the seeded
    KMeans coarse quantizer (k=8, seed=42 — the same quantizer the IVF
    ANN path q49 fits), then the identical dominated-member prune as
    q285. KMeans cell boundaries are partitioning-sensitive, so this
    registers rows-only; q285 is the oracled twin proving the prune
    body, and the summary invariants (every vector emitted exactly
    once, pruned ⊆ near-dup-in-cell) are unit-tested."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    quality = TX.quality_features(d).select(
        F.col("doc_id").alias("vec_id"), "quality_score"
    )
    fv = e.select("vec_id", "embedding", array_to_vector(F.col("embedding")).alias("__fv"))
    km = KMeans(k=_Q285_K, seed=42, featuresCol="__fv", predictionCol="__cell")
    model = km.fit(fv)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cid int, centroid array<double>",
    )
    # dim declared: the embeddings table contracts fixed-width dense
    # vectors (len(_Q285_CENTS[0])), letting the pair dot compile to
    # the flat codegen form (bit-identical; operators/similarity.py)
    return SIM.semdedup_prune(
        e, cents, quality, _Q285_T, dim=len(_Q285_CENTS[0])
    )


# ---------------------------------------------------------------------------
# q287 — incremental SemDeDup (delta vs persisted cell index)
# ---------------------------------------------------------------------------

_B287 = 10_000_000_000


def _semdedup_cells_sql() -> str:
    """Shared oracle CTE chain for the incremental-SemDeDup family
    (q287 batch, q295 streaming): fixed comb centroids, corpus cell
    assignment, and the reversed/re-identified delta batch — ONE
    definition so the two oracles can never drift (the
    _bands_sql_over precedent from queries_round4)."""
    vals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    return f"""cents(cid, c) AS (VALUES {vals}),
        casg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM embeddings, cents
        ),
        corpus AS (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM casg WHERE rn = 1
        ),
        delta AS (
            SELECT vec_id + {_B287} AS vec_id,
                   list_reverse(embedding) AS embedding
            FROM embeddings WHERE vec_id % 5 = 0
        ),
        basg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM delta, cents
        ),
        batch AS (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM basg WHERE rn = 1
        )"""


def _q287_oracle() -> str:
    sim = (
        f"round({_dot_sql('b.embedding', 'c.embedding')}"
        f" / (sqrt({_dot_sql('b.embedding', 'b.embedding')})"
        f" * sqrt({_dot_sql('c.embedding', 'c.embedding')})), 6)"
    )
    return f"""
        WITH {_semdedup_cells_sql()},
        hits AS (
            SELECT b.vec_id,
                   CAST(COUNT(*) AS BIGINT) AS n_matches,
                   MAX(s) AS max_sim
            FROM (
                SELECT b.vec_id, {sim} AS s
                FROM batch b JOIN corpus c ON b.cell_id = c.cell_id
            ) b WHERE s >= {_Q285_T} GROUP BY 1
        )
        SELECT b.vec_id, b.cell_id,
               COALESCE(h.n_matches, 0) AS n_matches,
               h.max_sim,
               (h.n_matches IS NULL) AS is_novel
        FROM batch b LEFT JOIN hits h ON b.vec_id = h.vec_id
    """


@query("q287_semdedup_incremental", oracle=None)  # oracle set below
def q287_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — the ingest shape at 100 TB: a NEW batch
    of vectors (every 5th embedding, deterministically perturbed by
    array reversal and re-identified) is cell-assigned against the
    SAME fixed centroids as the persisted corpus index (q285's cells)
    and probed for semantic near-dups WITHIN matching cells only —
    the corpus is never re-assigned, and the only data-sized join is
    delta×same-cell-index (``similarity.semdedup_incremental``, the
    embedding-lane analog of q252's band-index maintenance). Emits
    per batch vector its cell, match count, best similarity, and a
    novelty verdict."""
    e = read_table(spark, sf_dir, "embeddings")
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    corpus_cells = SIM.assign_cells(e, cents)
    batch = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + F.lit(_B287)).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    return SIM.semdedup_incremental(batch, corpus_cells, cents, _Q285_T)


_Q["q287_semdedup_incremental"] = _replace(
    _Q["q287_semdedup_incremental"], oracle=_q287_oracle()
)


# ---------------------------------------------------------------------------
# q288 — int8 embedding quantization fidelity audit
# ---------------------------------------------------------------------------

@query(
    "q288_embedding_quantization_audit",
    oracle=f"""
        WITH ex AS (
            SELECT unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        ),
        sc AS (
            SELECT list(s ORDER BY dim) AS sl FROM (
                SELECT dim,
                       greatest(max(abs(CAST(x AS DOUBLE))), 1e-12) AS s
                FROM ex GROUP BY dim
            )
        ),
        dq AS (
            SELECT vec_id, embedding,
                   list_transform(range(1, len(embedding) + 1),
                       i -> least(127.0, greatest(-127.0,
                                floor(CAST(embedding[i] AS DOUBLE)
                                      / sl[i] * 127.0 + 0.5)))
                            * sl[i] / 127.0) AS d
            FROM embeddings, sc
        ),
        per AS (
            SELECT vec_id,
                   round({_dot_sql('embedding', 'd')}
                         / (sqrt({_dot_sql('embedding', 'embedding')})
                            * sqrt({_dot_sql('d', 'd')})), 6)
                       AS fid,
                   round(list_max(list_transform(range(1, len(embedding) + 1),
                       i -> abs(CAST(embedding[i] AS DOUBLE) - d[i]))), 6)
                       AS aerr
            FROM dq
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               round(CAST(SUM(CAST(fid AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_fidelity,
               MIN(fid) AS min_fidelity,
               MAX(aerr) AS max_abs_err
        FROM per
    """,
)
def q288_embedding_quantization_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    corpus (q_i = clamp(floor(x_i/s_d·127 + .5)) — floor(v+.5), not
    round(), so no engine half-rule ambiguity) and its fidelity audit:
    cosine(original, dequantized) and worst per-dim absolute error —
    the memory-×4 compression decision an ANN serving tier makes
    before building an IVF index at 100 TB. Scales are per-dim
    max-abs (one tiny aggregate, 64 rows, the S10-sanctioned driver
    collect — production ships them as model metadata) broadcast as a
    literal array into a map-side zip_with; one corpus scan for the
    scales, one for the audit; mean fidelity through exact decimal
    accumulation."""
    e = read_table(spark, sf_dir, "embeddings")
    dims = e.select(F.posexplode("embedding").alias("dim", "v"))
    rows = (
        dims.groupBy("dim")
        .agg(
            F.greatest(
                F.max(F.abs(F.col("v").cast("double"))), F.lit(1e-12)
            ).alias("s")
        )
        .collect()
    )
    scales = [r.s for r in sorted(rows, key=lambda r: r.dim)]
    sarr = F.array(*[F.lit(s) for s in scales])
    dq = F.zip_with(
        "embedding",
        sarr,
        lambda x, s: F.least(
            F.lit(127.0),
            F.greatest(F.lit(-127.0), F.floor(x.cast("double") / s * 127.0 + 0.5)),
        )
        * s
        / 127.0,
    )
    from databricks_etl_spark.operators.similarity import cosine

    per = e.withColumn("__dq", dq).select(
        F.round(cosine(F.col("embedding"), F.col("__dq")), 6).alias("fid"),
        F.round(
            F.array_max(
                F.zip_with(
                    "embedding", F.col("__dq"), lambda x, d: F.abs(x.cast("double") - d)
                )
            ),
            6,
        ).alias("aerr"),
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.cast("long").alias("n_vectors"),
        F.round(
            F.sum(F.col("fid").cast("decimal(18,6)")).cast("double") / n, 6
        ).alias("mean_fidelity"),
        F.min("fid").alias("min_fidelity"),
        F.max("aerr").alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# q289 — near-dup-cluster-aware train/val/test split (leakage-proof)
# ---------------------------------------------------------------------------


def _q289_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        asg AS (
            SELECT d.doc_id,
                   COALESCE(cc.component, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
        ),
        sp AS (
            SELECT doc_id, cluster_id,
                   CASE WHEN b = 0 THEN 'test'
                        WHEN b <= 2 THEN 'val'
                        ELSE 'train' END AS split
            FROM (
                SELECT doc_id, cluster_id,
                       ((cluster_id % 1000000007) * 48271)
                           % 1000000007 % 10 AS b
                FROM asg
            )
        ),
        leak AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS leak_pairs
            FROM pr
            JOIN sp a ON pr.id_a = a.doc_id
            JOIN sp b ON pr.id_b = b.doc_id
            WHERE a.split != b.split
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               leak.leak_pairs
        FROM sp, leak
        GROUP BY split, leak.leak_pairs
    """


@query("q289_cluster_aware_split", oracle=None)  # oracle set below
def q289_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: the split key is the
    near-dup CLUSTER (q123's connected components over unigram-Jaccard
    pairs; singletons are their own cluster), hashed by the portable
    MINSTD arithmetic (q125's sampler) into 10/20/70 — so two near-
    duplicate documents can never straddle train and eval, the
    leakage mode a doc-keyed split cannot prevent. Emits per-split
    sizes plus the straddling-pair count, which is ZERO by
    construction and stated as such by the oracle — a regression in
    the clustering or the split key breaks the hash."""
    from databricks_etl_spark.operators.dedup import jaccard_pairs
    from databricks_etl_spark.operators.graph import connected_components

    d = read_table(spark, sf_dir, "documents")
    # ONE Jaccard self-join feeds both the clustering and the leak
    # count — the inverted-index pair build dominates this query's
    # cost, so materializing it once halves the heavy work
    pairs = jaccard_pairs(d, 0.5, ngram=1, max_df=100).localCheckpoint(eager=False)
    comps = connected_components(pairs, "id_a", "id_b")
    asg = (
        d.select("doc_id")
        .join(comps, d["doc_id"] == comps["id"], "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id")
        )
    )
    b = (F.col("cluster_id") % 1000000007) * 48271 % 1000000007 % 10
    sp = asg.withColumn(
        "split",
        F.when(b == 0, "test").when(b <= 2, "val").otherwise("train"),
    )
    a_sp = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("__sa"))
    b_sp = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("__sb"))
    leak = (
        pairs.join(a_sp, "id_a")
        .join(b_sp, "id_b")
        .filter(F.col("__sa") != F.col("__sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("leak_pairs"))
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
    )


_Q["q289_cluster_aware_split"] = _replace(
    _Q["q289_cluster_aware_split"], oracle=_q289_oracle()
)


# ---------------------------------------------------------------------------
# q290 — cross-source near-dup overlap matrix
# ---------------------------------------------------------------------------


def _q290_oracle() -> str:
    from databricks_etl_spark.plans.queries_round4 import _BANDS_SQL

    return f"""
        WITH {_BANDS_SQL},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
            FROM b a JOIN b c
              ON a.band = c.band AND a.band_hash = c.band_hash
             AND a.doc_id < c.doc_id
        ),
        lab AS (
            SELECT cand.id_a, cand.id_b, da.source AS sa, db.source AS sb
            FROM cand
            JOIN documents da ON cand.id_a = da.doc_id
            JOIN documents db ON cand.id_b = db.doc_id
        )
        SELECT least(sa, sb) AS source_a,
               greatest(sa, sb) AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM lab GROUP BY 1, 2
    """


@query("q290_source_overlap_matrix", oracle=None)  # oracle set below
def q290_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH feeds mirror each other: the LSH candidate graph (q173)
    rolled up into an unordered source×source near-dup pair matrix —
    q174 tells an operator THAT a feed is duplicated; this tells them
    against WHOM (a syndication partner, a re-crawl of their own CDN,
    an aggregator). Candidates come from the banded equi-join only;
    the doc→source enrichment is two joins against the (tiny relative
    to pairs) documents projection, and the matrix is at most
    |sources|² rows."""
    from databricks_etl_spark.plans.queries_round4 import (
        q173_band_collision_candidates,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    cand = q173_band_collision_candidates(spark, sf_dir).select("id_a", "id_b")
    lab = (
        cand.join(d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


_Q["q290_source_overlap_matrix"] = _replace(
    _Q["q290_source_overlap_matrix"], oracle=_q290_oracle()
)


# ---------------------------------------------------------------------------
# q291 — length-bucketed batching: padding-waste audit
# ---------------------------------------------------------------------------

from databricks_etl_spark.plans.queries_text import _TOKS as _Q291_RAWTOKS

_Q291_TOKS = f"len({_Q291_RAWTOKS})"  # the canonical tokenizer, shared


@query(
    "q291_padding_waste_audit",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_Q291_TOKS} AS n_tokens FROM documents),
        m AS (SELECT MAX(n_tokens) AS mx FROM t),
        g(n_buckets_cfg) AS (VALUES (1), (4), (16)),
        asg AS (
            SELECT g.n_buckets_cfg, t.doc_id, t.n_tokens,
                   CAST(floor(t.n_tokens * g.n_buckets_cfg
                              / (m.mx + 1)) AS BIGINT) AS bkt
            FROM t, m, g
        ),
        bmax AS (
            SELECT n_buckets_cfg, bkt, MAX(n_tokens) AS bkt_max
            FROM asg GROUP BY 1, 2
        )
        SELECT a.n_buckets_cfg,
               CAST(SUM(a.n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(b.bkt_max - a.n_tokens) AS BIGINT) AS padded_tokens,
               round(CAST(SUM(b.bkt_max - a.n_tokens) AS DOUBLE)
                     / (SUM(a.n_tokens) + SUM(b.bkt_max - a.n_tokens)), 6)
                   AS waste_ratio
        FROM asg a JOIN bmax b
          ON a.n_buckets_cfg = b.n_buckets_cfg AND a.bkt = b.bkt
        GROUP BY 1
    """,
)
def q291_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why length-bucketed batching matters, quantified: pad every
    document to the max length of its bucket under 1 / 4 / 16
    equal-width token-length buckets, and report the share of compute
    that would be padding — the audit that sizes the bucketing knob
    of a training dataloader before anyone burns accelerator-hours.
    Integer arithmetic end-to-end (token counts, floor bucketing,
    exact BIGINT sums); the global max is a one-row broadcast; bucket
    maxima are a ≤16-row aggregate joined back map-side."""
    d = read_table(spark, sf_dir, "documents")
    from databricks_etl_spark.operators.text import tokens_col

    t = d.select(
        "doc_id",
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
    )
    m = t.agg(F.max("n_tokens").alias("mx"))
    g = spark.createDataFrame([(1,), (4,), (16,)], "n_buckets_cfg int")
    asg = (
        t.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(g))
        .select(
            "n_buckets_cfg",
            "doc_id",
            "n_tokens",
            F.floor(
                F.col("n_tokens") * F.col("n_buckets_cfg") / (F.col("mx") + 1)
            ).cast("long").alias("bkt"),
        )
    )
    bmax = asg.groupBy("n_buckets_cfg", "bkt").agg(
        F.max("n_tokens").alias("bkt_max")
    )
    joined = asg.join(F.broadcast(bmax), ["n_buckets_cfg", "bkt"])
    pad = F.col("bkt_max") - F.col("n_tokens")
    return joined.groupBy("n_buckets_cfg").agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(pad).cast("long").alias("padded_tokens"),
        F.round(
            F.sum(pad).cast("double") / (F.sum("n_tokens") + F.sum(pad)), 6
        ).alias("waste_ratio"),
    )


# ---------------------------------------------------------------------------
# q292 — hard-negative mining for contrastive training
# ---------------------------------------------------------------------------


@query(
    "q292_hard_negatives",
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS nid, embedding AS ce, label AS nl
                   FROM embeddings),
             s AS (
                SELECT qid, nid, nl,
                       round({_dot_sql('qe', 'ce')}
                             / (sqrt({_dot_sql('qe', 'qe')})
                                * sqrt({_dot_sql('ce', 'ce')})), 6)
                           + 0.0 AS cosine_sim
                FROM q, c WHERE ql != nl
             ),
             r AS (
                SELECT qid AS query_id, nid AS neighbor_id,
                       CAST(nl AS INT) AS neg_label, cosine_sim,
                       row_number() OVER (
                           PARTITION BY qid
                           ORDER BY cosine_sim DESC, nid
                       ) AS rank
                FROM s
             )
        SELECT query_id, neighbor_id, neg_label,
               CAST(rank AS BIGINT) AS rank, cosine_sim
        FROM r WHERE rank <= 5
    """,
)
def q292_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive/retrieval training prep): for
    each query vector, the 5 most-similar corpus vectors with a
    DIFFERENT label — the negatives that actually move a contrastive
    loss, vs easy random ones. Same broadcast-query brute-force shape
    as q47 with a label-inequality predicate fused into the scoring
    join; at scale the corpus side swaps to the IVF probe (q68) with
    the same re-rank."""
    from databricks_etl_spark.operators.similarity import cosine

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qe"),
        F.col("label").alias("__ql"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__ce"),
        F.col("label").alias("__nl"),
    )
    s = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__ql") != F.col("__nl"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("__nl").cast("int").alias("neg_label"),
            (F.round(cosine(F.col("__qe"), F.col("__ce")), 6) + F.lit(0.0)).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "neg_label",
            F.col("rank").cast("long").alias("rank"), "cosine_sim",
        )
    )


# ---------------------------------------------------------------------------
# q293 — population stability index (distribution drift monitor)
# ---------------------------------------------------------------------------


@query(
    "q293_psi_drift",
    oracle="""
        WITH t AS (
            SELECT CASE WHEN year(o_orderdate) <= 1997 THEN 'a' ELSE 'b' END
                       AS period,
                   least(9, CAST(floor(CAST(o_totalprice AS DOUBLE) / 60000.0)
                                 AS BIGINT)) AS bin
            FROM orders
        ),
        bins(bin) AS (
            SELECT CAST(unnest(range(0, 10)) AS BIGINT)
        ),
        per AS (
            SELECT bins.bin,
                   CAST(SUM(CASE WHEN t.period = 'a' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN t.period = 'b' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM bins LEFT JOIN t ON bins.bin = t.bin
            GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM per),
        p AS (
            SELECT bin, n_a, n_b,
                   (CAST(n_a AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + 10.0)
                       AS pa,
                   (CAST(n_b AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + 10.0)
                       AS pb
            FROM per, tot
        ),
        c AS (
            SELECT bin, n_a, n_b,
                   round((pa - pb) * ln(pa / pb), 6) + 0.0 AS psi_contrib
            FROM p
        ),
        s AS (
            SELECT round(CAST(SUM(CAST(psi_contrib AS DECIMAL(18,6)))
                              AS DOUBLE), 6) + 0.0 AS psi_total
            FROM c
        )
        SELECT c.bin, c.n_a, c.n_b, c.psi_contrib, s.psi_total FROM c, s
    """,
)
def q293_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order cohorts (orders
    through 1997 vs after) over fixed $60k totalprice bins — the
    standard drift monitor an ML-feature pipeline alarms on before a
    model silently degrades. Laplace-smoothed shares so empty bins
    never divide by zero; contributions rounded then decimal-summed
    (ln is empirically bit-identical across engines here — the same
    discipline as the BM25/TF-IDF lanes). Plan: one scan, a 10-row
    conditional aggregate, a broadcast total — flat at any scale."""
    o = read_table(spark, sf_dir, "orders")
    t = o.select(
        F.when(F.year("o_orderdate") <= 1997, "a").otherwise("b").alias("period"),
        F.least(
            F.lit(9),
            F.floor(F.col("o_totalprice").cast("double") / 60000.0),
        ).cast("long").alias("bin"),
    )
    bins = spark.range(0, 10).select(F.col("id").alias("bin"))
    per = (
        bins.join(t, "bin", "left")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("period") == "a", 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when(F.col("period") == "b", 1).otherwise(0))
            .cast("long").alias("n_b"),
        )
    )
    tot = per.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    p = per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        ((F.col("n_a").cast("double") + 1.0) / (F.col("ta").cast("double") + 10.0)).alias("pa"),
        ((F.col("n_b").cast("double") + 1.0) / (F.col("tb").cast("double") + 10.0)).alias("pb"),
    )
    c = p.select(
        "bin",
        "n_a",
        "n_b",
        (
            F.round(
                (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 6
            )
            + F.lit(0.0)
        ).alias("psi_contrib"),
    )
    s = c.agg(
        (
            F.round(
                F.sum(F.col("psi_contrib").cast("decimal(18,6)")).cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("psi_total")
    )
    return c.crossJoin(F.broadcast(s))


# ---------------------------------------------------------------------------
# q294 — rank-based winsorized group stats (robust mean)
# ---------------------------------------------------------------------------


@query(
    "q294_winsorized_acctbal",
    oracle="""
        WITH r AS (
            SELECT c_nationkey, c_acctbal,
                   row_number() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal, c_custkey
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY c_nationkey) AS n
            FROM customer
        ),
        k AS (
            SELECT c_nationkey, c_acctbal, rn, n,
                   CAST(floor(0.05 * n) AS BIGINT) AS kk
            FROM r
        ),
        caps AS (
            SELECT c_nationkey,
                   MIN(CASE WHEN rn = kk + 1 THEN c_acctbal END) AS lo_cap,
                   MIN(CASE WHEN rn = n - kk THEN c_acctbal END) AS hi_cap
            FROM k GROUP BY 1
        )
        SELECT k.c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(caps.lo_cap AS DOUBLE) AS lo_cap,
               CAST(caps.hi_cap AS DOUBLE) AS hi_cap,
               round(CAST(SUM(CAST(least(greatest(k.c_acctbal, caps.lo_cap),
                                         caps.hi_cap) AS DECIMAL(28,6)))
                          AS DOUBLE) / COUNT(*), 6) AS winsorized_mean,
               round(CAST(SUM(CAST(k.c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 6) AS raw_mean
        FROM k JOIN caps ON k.c_nationkey = caps.c_nationkey
        GROUP BY k.c_nationkey, caps.lo_cap, caps.hi_cap
    """,
)
def q294_winsorized_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based 5% winsorized mean of customer balances per nation —
    the robust aggregate a feature pipeline substitutes when a raw
    mean is hostage to a few whale accounts. Caps are the exact k-th
    smallest / largest VALUES (rank positions, no interpolation — so
    both engines pick identical caps even under ties), clamping via
    least/greatest, means through exact decimal sums. This exact form
    is the sf-bounded baseline: its per-group sort window funnels each
    nation through one task, so the 100 TB path swaps the caps for
    broadcast approx-quantile boundaries (quantile_bucket's bracket
    pattern, q247-q250) with this query as the correctness anchor."""
    from databricks_etl_spark.functions.scalars import MONEY

    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_nationkey")
    r = c.select(
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("kk", F.floor(0.05 * F.col("n")).cast("long"))
    caps = r.groupBy("c_nationkey").agg(
        F.min(F.when(F.col("rn") == F.col("kk") + 1, F.col("c_acctbal"))).alias("lo_cap"),
        F.min(F.when(F.col("rn") == F.col("n") - F.col("kk"), F.col("c_acctbal"))).alias("hi_cap"),
    )
    j = r.join(F.broadcast(caps), "c_nationkey")
    clamped = F.least(F.greatest(F.col("c_acctbal"), F.col("lo_cap")), F.col("hi_cap"))
    n = F.count(F.lit(1))
    return j.groupBy("c_nationkey", "lo_cap", "hi_cap").agg(
        n.cast("long").alias("n_customers"),
        F.round(F.sum(clamped.cast(MONEY)).cast("double") / n, 6).alias(
            "winsorized_mean"
        ),
        F.round(F.sum(F.col("c_acctbal").cast(MONEY)).cast("double") / n, 6).alias(
            "raw_mean"
        ),
    ).select(
        "c_nationkey",
        "n_customers",
        F.col("lo_cap").cast("double").alias("lo_cap"),
        F.col("hi_cap").cast("double").alias("hi_cap"),
        "winsorized_mean",
        "raw_mean",
    )


# ---------------------------------------------------------------------------
# q295 — streaming SemDeDup ingest loop
# ---------------------------------------------------------------------------


def _q295_oracle() -> str:

    def sim(x, y):
        return (
            f"round({_dot_sql(x, y)}"
            f" / (sqrt({_dot_sql(x, x)})"
            f" * sqrt({_dot_sql(y, y)})), 6)"
        )

    return f"""
        WITH {_semdedup_cells_sql()},
        cross_p AS (
            SELECT b.vec_id AS id_a, c.vec_id AS id_b,
                   {sim('b.embedding', 'c.embedding')} AS s
            FROM batch b JOIN corpus c ON b.cell_id = c.cell_id
        ),
        within_p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {sim('a.embedding', 'b.embedding')} AS s
            FROM batch a JOIN batch b
              ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        ),
        u AS (
            SELECT * FROM cross_p WHERE s >= {_Q285_T}
            UNION ALL
            SELECT * FROM within_p WHERE s >= {_Q285_T}
        ),
        touched AS (
            SELECT id_a AS vec_id, s FROM u
            UNION ALL
            SELECT id_b, s FROM u WHERE id_b >= {_B287}
        ),
        hits AS (
            SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
                   MAX(s) AS max_sim
            FROM touched GROUP BY 1
        )
        SELECT b.vec_id, b.cell_id,
               COALESCE(h.n_matches, 0) AS n_matches,
               h.max_sim,
               (h.vec_id IS NULL) AS is_novel
        FROM batch b LEFT JOIN hits h ON b.vec_id = h.vec_id
    """


@query("q295_streaming_semdedup", oracle=None)  # oracle set below
def q295_streaming_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q287's incremental SemDeDup run as a TRUE Structured Streaming
    ingest loop (``streaming/semdedup.py``): per micro-batch the delta
    vectors are cell-assigned, probed against the index-so-far, pairs
    land in an epoch-idempotent sink, and the delta's cells append to
    the index for later epochs — the drained pair set is invariant to
    micro-batch slicing (a cross-epoch pair is found exactly once,
    when its later vector arrives; unit-tested with a forced two-epoch
    harness in tests/test_streaming.py). The per-vector verdict is
    SYMMETRIC — each delta counts pairs in both roles — so the oracle
    states the whole-stream semantics: matches against corpus plus ALL
    other deltas, not just earlier ones."""
    from databricks_etl_spark.streaming.semdedup import run_streaming_semdedup

    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    return run_streaming_semdedup(spark, sf_dir, cents, _Q285_T, id_offset=_B287)


_Q["q295_streaming_semdedup"] = _replace(
    _Q["q295_streaming_semdedup"], oracle=_q295_oracle()
)


# ---------------------------------------------------------------------------
# q296 — bigram-LM pseudo-perplexity quality scoring
# ---------------------------------------------------------------------------


@query(
    "q296_bigram_lm_score",
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS toks
            FROM documents
        ),
        bg AS (
            SELECT doc_id, unnest(
                list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS b
            FROM t WHERE len(toks) >= 2
        ),
        cb AS (SELECT b, COUNT(*) AS nb FROM bg GROUP BY 1),
        lc AS (
            SELECT string_split(b, ' ')[1] AS w1, SUM(nb) AS nl
            FROM cb GROUP BY 1
        ),
        v AS (
            SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vs
            FROM (SELECT unnest(toks) AS w FROM t)
        ),
        contrib AS (
            SELECT bg.doc_id,
                   CAST(round(
                       -ln((CAST(cb.nb AS DOUBLE) + 1.0)
                           / (CAST(lc.nl AS DOUBLE) + v.vs)),
                       9) AS DECIMAL(18,9)) AS c
            FROM bg
            JOIN cb USING (b)
            JOIN lc ON string_split(bg.b, ' ')[1] = lc.w1
            CROSS JOIN v
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS avg_nll
        FROM contrib GROUP BY doc_id
    """,
)
def q296_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (the CCNet/KenLM move, corpus-
    self-trained): an add-one-smoothed bigram model is counted over
    the corpus and every document is scored by its average negative
    log-likelihood — gibberish and shuffled-token spam score high,
    fluent templated text scores low; the heavy-tail quality filter
    that runs where a neural perplexity model is too expensive.
    Per-(doc, bigram) contributions are rounded to 9dp and cast to
    DECIMAL(18,9) BEFORE the per-doc sum (q263's discipline), so the
    hash cannot flake on summation order. Shuffles: bigram-count join
    keyed on the bigram, left-count join keyed on w1 — both scale-flat
    hash joins; only the 1-row vocab size broadcasts."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens_col("text").alias("toks"))
    n = F.size("toks")
    bg = (
        t.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n - 1),
                    F.slice("toks", 2, n - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("b"),
        )
    )
    cb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    lc = cb.groupBy(F.split("b", " ")[0].alias("w1")).agg(
        F.sum("nb").alias("nl")
    )
    v = t.select(F.explode("toks").alias("w")).agg(
        F.countDistinct("w").cast("double").alias("vs")
    )
    contrib = (
        bg.join(cb, "b")
        .join(lc, F.split(bg["b"], " ")[0] == lc["w1"])
        .join(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.col("nb").cast("double") + 1.0)
                    / (F.col("nl").cast("double") + F.col("vs"))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("c").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_nll"
        ),
    )


# ---------------------------------------------------------------------------
# q297 — deterministic weighted sampling (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------


@query(
    "q297_weighted_sample",
    oracle="""
        WITH s AS (
            SELECT o_orderstatus, o_orderkey,
                   round(ln((CAST(((o_orderkey % 1000000007) * 48271)
                                  % 1000000007 AS DOUBLE) + 1.0)
                            / 1000000008.0)
                         / CAST(o_totalprice AS DOUBLE), 9) AS sample_key
            FROM orders
        ),
        r AS (
            SELECT o_orderstatus, o_orderkey, sample_key,
                   row_number() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY sample_key DESC, o_orderkey
                   ) AS rank
            FROM s
        )
        SELECT o_orderstatus, o_orderkey, sample_key,
               CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 50
    """,
)
def q297_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis
    A-ES scheme made fully deterministic: each order draws a portable
    pseudo-uniform u from the MINSTD hash of its key (q125's
    arithmetic, +1 so u is never 0) and competes on ln(u)/weight with
    weight = o_totalprice — the top-k per stratum IS a weighted sample
    (big orders proportionally likelier), reproducible on any engine /
    partitioning / run, unlike rand()-based sampling. Keys are rounded
    to 9dp BEFORE ranking with an explicit id tiebreak, so the
    selected set is hash-stable. Per-stratum top-k is a bounded
    window; at 100 TB this is the standard importance-sampled data
    subset pin (high-value transactions over-represented in an audit
    extract)."""
    o = read_table(spark, sf_dir, "orders")
    u = (
        ((F.col("o_orderkey") % 1000000007) * 48271 % 1000000007).cast("double")
        + 1.0
    ) / 1000000008.0
    s = o.select(
        "o_orderstatus",
        "o_orderkey",
        F.round(F.log(u) / F.col("o_totalprice").cast("double"), 9).alias(
            "sample_key"
        ),
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("sample_key"), F.asc("o_orderkey")
    )
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select(
            "o_orderstatus",
            "o_orderkey",
            "sample_key",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# q298 — event rate-spike detection (ops anomaly monitor)
# ---------------------------------------------------------------------------


@query(
    "q298_rate_spike_detection",
    oracle="""
        WITH h AS (
            SELECT event_type,
                   CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600.0)
                        AS BIGINT) AS hour_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        w AS (
            SELECT event_type, hour_bucket, n_events,
                   SUM(n_events) OVER (
                       PARTITION BY event_type ORDER BY hour_bucket
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS tsum,
                   COUNT(*) OVER (
                       PARTITION BY event_type ORDER BY hour_bucket
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS tcnt
            FROM h
        ),
        z AS (
            SELECT event_type, hour_bucket, n_events,
                   round(CAST(tsum AS DOUBLE) / tcnt, 6) AS expected,
                   round((n_events - CAST(tsum AS DOUBLE) / tcnt)
                         / sqrt(CAST(tsum AS DOUBLE) / tcnt), 6) AS z
            FROM w WHERE tcnt >= 6 AND tsum > 0
        )
        SELECT event_type, hour_bucket, n_events, expected, z
        FROM z WHERE z >= 3.0
    """,
)
def q298_rate_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-style rate-spike detection per event type: hourly counts
    vs the trailing-24-observed-hours mean, flagging hours whose
    z-score (obs − exp)/√exp reaches 3 — the ops anomaly monitor a
    streaming ingest watches for bot storms and replay incidents
    (trend smoothing is q197's EWMA; this is the alarm on top).
    Requires ≥6 trailing observed hours so cold starts never alarm.
    Per-type windows are bounded by the hour count, not the event
    count — the hourly pre-aggregate is the only data-sized shuffle.
    NTZ discipline: epoch seconds via unix_timestamp (the README
    rule), identical to the oracle's floor(epoch(ts))."""
    e = read_table(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts").cast("double") / 3600.0)
            .cast("long")
            .alias("hour_bucket"),
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    trail = Window.partitionBy("event_type").orderBy("hour_bucket").rowsBetween(-24, -1)
    w = h.select(
        "event_type",
        "hour_bucket",
        "n_events",
        F.sum("n_events").over(trail).alias("tsum"),
        F.count(F.lit(1)).over(trail).alias("tcnt"),
    )
    exp_ = F.col("tsum").cast("double") / F.col("tcnt")
    z = (
        w.filter((F.col("tcnt") >= 6) & (F.col("tsum") > 0))
        .select(
            "event_type",
            "hour_bucket",
            "n_events",
            F.round(exp_, 6).alias("expected"),
            F.round((F.col("n_events") - exp_) / F.sqrt(exp_), 6).alias("z"),
        )
    )
    return z.filter(F.col("z") >= 3.0)


# ---------------------------------------------------------------------------
# q299 — near-dup cluster size distribution
# ---------------------------------------------------------------------------


def _q299_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        sizes AS (
            SELECT component, CAST(COUNT(*) AS BIGINT) AS k FROM cc GROUP BY 1
        ),
        singles AS (
            SELECT CAST((SELECT COUNT(*) FROM documents)
                        - (SELECT COUNT(*) FROM cc) AS BIGINT) AS n
        ),
        dist AS (
            SELECT k AS cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(k) AS BIGINT) AS n_docs
            FROM sizes GROUP BY 1
            UNION ALL
            SELECT 1, n, n FROM singles WHERE n > 0
        )
        SELECT cluster_size,
               CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs
        FROM dist GROUP BY 1
    """


@query("q299_dup_cluster_sizes", oracle=None)  # oracle set below
def q299_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is duplication: the size distribution of
    near-dup clusters (connected components over unigram-Jaccard
    pairs, q123's graph), with unclustered documents counted as
    size-1 clusters — the shape an operator reads before picking
    dedup policy (a fat tail of giant clusters means boilerplate and
    calls for q272's hot-bucket cap; many 2–3-clusters means organic
    re-posting and survivor selection, q258). Component sizes are a
    tiny aggregate over the components relation; the corpus is
    touched only by the pair build."""
    from databricks_etl_spark.plans.queries_dedup import _neardup_components

    d = read_table(spark, sf_dir, "documents")
    # one materialization feeds both the size histogram and the
    # singleton count — a driver-side count() here would re-run the
    # whole iterative component build per action
    comps = _neardup_components(spark, sf_dir).localCheckpoint(eager=False)
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    dist = sizes.groupBy(F.col("k").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("k").cast("long").alias("n_docs"),
    )
    singles = (
        d.select("doc_id")
        .join(comps, d["doc_id"] == comps["id"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
    )
    return (
        dist.unionByName(singles)
        .groupBy("cluster_size")
        .agg(
            F.sum("n_clusters").cast("long").alias("n_clusters"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
    )


_Q["q299_dup_cluster_sizes"] = _replace(
    _Q["q299_dup_cluster_sizes"], oracle=_q299_oracle()
)


# ---------------------------------------------------------------------------
# q300/q301 — image perceptual-hash (aHash) dedup lane
# ---------------------------------------------------------------------------

# closed-form aHash of the synthetic BMPs (q57's pixel formula), as a
# CTE: 4x4 block grid, bit set iff block mean gray strictly exceeds the
# image mean — exact integer cross-products, no division
_Q300_AHASH = """
        d AS (
            SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
            FROM documents WHERE doc_id < 200
        ),
        xs AS (SELECT unnest(range(0, 16)) AS x),
        ys AS (SELECT unnest(range(0, 10)) AS y),
        px AS (
            SELECT doc_id, w, h, x, y,
                   (doc_id + 7 * x + 13 * y) % 256
                   + (2 * doc_id + 5 * x + 11 * y) % 256
                   + (3 * doc_id + 3 * x + 17 * y) % 256 AS gray
            FROM d, xs, ys WHERE x < w AND y < h
        ),
        blocks AS (
            SELECT doc_id, w, h,
                   CAST(x * 4 // w AS BIGINT) AS bx,
                   CAST(y * 4 // h AS BIGINT) AS by,
                   SUM(gray) AS bsum, COUNT(*) AS bcnt
            FROM px GROUP BY 1, 2, 3, 4, 5
        ),
        tot AS (
            SELECT doc_id, SUM(bsum) AS isum, SUM(bcnt) AS icnt
            FROM blocks GROUP BY 1
        ),
        ah AS (
            SELECT b.doc_id,
                   CAST(SUM(CASE WHEN b.bsum * t.icnt > t.isum * b.bcnt
                            THEN (CAST(1 AS BIGINT) << (b.by * 4 + b.bx))
                            ELSE 0 END) AS BIGINT) AS ahash
            FROM blocks b JOIN tot t USING (doc_id)
            GROUP BY 1
        )"""


@query(
    "q300_image_ahash",
    oracle=f"""
        WITH {_Q300_AHASH}
        SELECT doc_id, ahash FROM ah
    """,
)
def q300_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual hashing, REAL and hash-checked end to end: the
    synthetic BMP payloads (genuine file layout, q57's lane) are
    decoded to raw pixels inside Arrow-batched ``mapInPandas`` and
    reduced to a 16-bit average-hash (4×4 block grid, bit = block mean
    gray strictly above image mean, exact integer cross-products —
    ``operators/multimodal.ahash16``). Pixels are closed-form in
    doc_id, so the oracle recomputes the hash arithmetically: a
    decoder bug (row flip, channel swap, padding off-by-one) or a
    hashing bug (block boundary, tie handling, bit order) breaks the
    value hash. A deployment swaps the BMP parser for a JPEG codec +
    64-bit pHash; the plumbing and the dedup join are identical."""
    from databricks_etl_spark.operators import multimodal as MM

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return MM.image_ahash(MM.generate_bmp_payloads(d))


@query(
    "q301_image_ahash_pairs",
    oracle=f"""
        WITH {_Q300_AHASH}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ahash
        FROM ah a JOIN ah b ON a.ahash = b.ahash AND a.doc_id < b.doc_id
    """,
)
def q301_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidates: the aHash equi-join — every pair of
    images sharing a perceptual fingerprint (the image analog of the
    text fingerprint dedup q42/q254; a production system follows with
    a hamming-radius verify on a wider hash). The join is bucketed by
    the hash — never an image×image cross product — so the candidate
    volume is bounded by fingerprint collisions exactly like the
    MinHash band lanes."""
    from databricks_etl_spark.operators import multimodal as MM

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ah = MM.image_ahash(MM.generate_bmp_payloads(d))
    a = ah.select(F.col("doc_id").alias("id_a"), "ahash")
    b = ah.select(F.col("doc_id").alias("id_b"), "ahash")
    return (
        a.join(b, "ahash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ahash")
    )


@query(
    "q302_image_hamming_pairs",
    oracle=f"""
        WITH {_Q300_AHASH},
        bands AS (
            SELECT doc_id, ahash, b.band,
                   (ahash >> (b.band * 4)) & 15 AS band_val
            FROM ah, (SELECT unnest(range(0, 4)) AS band) b
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                   a.ahash AS ha, c.ahash AS hb
            FROM bands a JOIN bands c
              ON a.band = c.band AND a.band_val = c.band_val
             AND a.doc_id < c.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def q302_image_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-radius image near-dup — the production follow-up to the
    exact-collision join (q301): pairs of perceptual hashes within
    Hamming distance 3, found WITHOUT a cross product by the pigeonhole
    band trick on bit-hashes (split 16 bits into 4 bands of 4; any two
    hashes differing in ≤3 bits must agree on ≥1 whole band, so a
    band equi-join generates every true candidate) and verified by
    ``bit_count(xor)`` — the same candidates-then-verify ladder as the
    MinHash lanes, applied to a bit-fingerprint (this is how SimHash
    dedup, q46/q163, scales too). Everything after the decode is
    JVM-side bit arithmetic."""
    from databricks_etl_spark.operators import multimodal as MM

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ah = MM.image_ahash(MM.generate_bmp_payloads(d)).localCheckpoint(eager=False)
    bands = ah.crossJoin(
        F.broadcast(spark.range(0, 4).select(F.col("id").alias("band")))
    ).select(
        "doc_id",
        "ahash",
        "band",
        F.expr("shiftright(ahash, cast(band * 4 as int)) & 15").alias(
            "band_val"
        ),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("ahash").alias("ha"), "band", "band_val"
    )
    c = bands.select(
        F.col("doc_id").alias("id_b"), F.col("ahash").alias("hb"), "band", "band_val"
    )
    cand = (
        a.join(c, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(ham <= 3).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# q303 — audio energy-contour fingerprint
# ---------------------------------------------------------------------------


@query(
    "q303_audio_fingerprint",
    oracle="""
        WITH d AS (
            SELECT doc_id, 32 + doc_id % 97 AS n
            FROM documents WHERE doc_id < 200
        ),
        s AS (
            SELECT doc_id, n, i,
                   ((doc_id * 131 + i * 7919) % 65536) - 32768 AS v
            FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d)
        ),
        fr AS (
            SELECT doc_id, CAST(i * 16 // n AS BIGINT) AS f,
                   SUM(v * v) AS energy
            FROM s GROUP BY 1, 2
        ),
        bits AS (
            SELECT a.doc_id,
                   CASE WHEN b.energy > a.energy
                        THEN (CAST(1 AS BIGINT) << CAST(a.f AS INT))
                        ELSE 0 END AS bit
            FROM fr a JOIN fr b
              ON a.doc_id = b.doc_id AND b.f = a.f + 1
        )
        SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS afp
        FROM bits GROUP BY doc_id
    """,
)
def q303_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio dedup fingerprint, real and hash-checked end to end (the
    WAV sibling of the image aHash q300): PCM16 samples come out of
    the genuine RIFF parser inside ``mapInPandas`` and reduce to a
    15-bit energy-contour fingerprint — 16 equal frames, bit f set
    iff frame f+1's integer energy strictly exceeds frame f's (the
    sign-of-energy-delta construction at the core of production audio
    fingerprinting). Samples are closed-form in doc_id, so the oracle
    recomputes the fingerprint arithmetically; dedup downstream is
    the same fingerprint equi-join / Hamming-band ladder as q301/q302."""
    from databricks_etl_spark.operators import multimodal as MM

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return MM.audio_fingerprints(MM.generate_wav_payloads(d))


# ---------------------------------------------------------------------------
# q304 — seasonal-naive forecast backtest (MAPE/SMAPE)
# ---------------------------------------------------------------------------


@query(
    "q304_seasonal_naive_backtest",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0)
                        AS BIGINT) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        f AS (
            -- DAY-KEYED join, not a row-based lag: a (type, day) bucket
            -- with zero events produces no row, and lag(7) over rows
            -- would then silently misalign the calendar; the self-join
            -- states forecast(day) = actual(day - 7) exactly, and days
            -- whose day-7 is absent drop out of the eval window
            SELECT a.event_type, a.day, a.n, p.n AS fc
            FROM daily a JOIN daily p
              ON a.event_type = p.event_type AND p.day = a.day - 7
        ),
        e AS (
            SELECT event_type, day, n, fc,
                   CAST(round(abs(n - fc) / CAST(n AS DOUBLE), 9)
                        AS DECIMAL(18,9)) AS ape,
                   CAST(round(2.0 * abs(n - fc)
                              / (CAST(n AS DOUBLE) + fc), 9)
                        AS DECIMAL(18,9)) AS sape
            FROM f WHERE fc IS NOT NULL AND n > 0
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_eval_days,
               round(CAST(SUM(ape) AS DOUBLE) / COUNT(*), 6) AS mape,
               round(CAST(SUM(sape) AS DOUBLE) / COUNT(*), 6) AS smape
        FROM e GROUP BY event_type
    """,
)
def q304_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality backtest with the seasonal-naive baseline
    (forecast(day) = actual(day − 7)) over daily event counts per
    type — the first eval any capacity-planning forecast must beat,
    and the standard way to size an alerting band (q298's spike
    detector alarms; this quantifies baseline predictability). MAPE
    and SMAPE per type, with per-day rounded ratios accumulated in
    DECIMAL (q263's discipline) so the averages are order-independent.
    The forecast alignment is a DAY-KEYED self-join (calendar day − 7,
    never a row-based lag that would misalign on missing days); the
    daily pre-aggregate is the only data-sized shuffle."""
    e = read_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts").cast("double") / 86400.0)
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # day-keyed self-join (see oracle comment): forecast(day) is the
    # actual at day-7 BY CALENDAR, robust to missing (type, day) rows
    past = daily.select(
        F.col("event_type"),
        (F.col("day") + 7).alias("day"),
        F.col("n").alias("fc"),
    )
    f = daily.join(past, ["event_type", "day"])
    ev = f.filter(F.col("fc").isNotNull() & (F.col("n") > 0)).select(
        "event_type",
        F.round(F.abs(F.col("n") - F.col("fc")) / F.col("n").cast("double"), 9)
        .cast("decimal(18,9)")
        .alias("ape"),
        F.round(
            2.0
            * F.abs(F.col("n") - F.col("fc"))
            / (F.col("n").cast("double") + F.col("fc")),
            9,
        )
        .cast("decimal(18,9)")
        .alias("sape"),
    )
    n = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        n.cast("long").alias("n_eval_days"),
        F.round(F.sum("ape").cast("double") / n, 6).alias("mape"),
        F.round(F.sum("sape").cast("double") / n, 6).alias("smape"),
    )


# ---------------------------------------------------------------------------
# q305 — erasure-cascade audit (right-to-be-forgotten sizing)
# ---------------------------------------------------------------------------


@query(
    "q305_erasure_cascade_audit",
    oracle="""
        WITH del_cust AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
        ),
        del_ord AS (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
        ),
        del_li AS (
            SELECT 1 AS x FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM del_ord)
        )
        SELECT 'customer' AS table_name,
               CAST((SELECT COUNT(*) FROM del_cust) AS BIGINT) AS n_rows,
               round(CAST((SELECT COUNT(*) FROM del_cust) AS DOUBLE)
                     / (SELECT COUNT(*) FROM customer), 6) AS pct_of_table
        UNION ALL
        SELECT 'orders',
               CAST((SELECT COUNT(*) FROM del_ord) AS BIGINT),
               round(CAST((SELECT COUNT(*) FROM del_ord) AS DOUBLE)
                     / (SELECT COUNT(*) FROM orders), 6)
        UNION ALL
        SELECT 'lineitem',
               CAST((SELECT COUNT(*) FROM del_li) AS BIGINT),
               round(CAST((SELECT COUNT(*) FROM del_li) AS DOUBLE)
                     / (SELECT COUNT(*) FROM lineitem), 6)
    """,
)
def q305_erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sizing: given an erasure request set
    (every 97th customer plays the deletion list), the cascade of rows
    that must go with it across the FK graph — orders of those
    customers, line items of those orders — as absolute counts and
    table fractions. This is the compliance-planning query a data
    platform runs BEFORE executing deletes (sizing the rewrite, and
    the anti-join delete itself is J4's left-anti shape, q11).
    Cascade membership via left-semi joins — the key sets move, never
    the fact rows; each level's key relation feeds the next, exactly
    how a 100 TB cascade would propagate."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    del_cust = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_ord = o.join(
        del_cust, o["o_custkey"] == del_cust["c_custkey"], "left_semi"
    ).select("o_orderkey")
    del_li = li.join(
        del_ord, li["l_orderkey"] == del_ord["o_orderkey"], "left_semi"
    )

    def row(name, part, whole):
        n = part.agg(F.count(F.lit(1)).alias("n"))
        t = whole.agg(F.count(F.lit(1)).alias("t"))
        return n.crossJoin(t).select(
            F.lit(name).alias("table_name"),
            F.col("n").cast("long").alias("n_rows"),
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias(
                "pct_of_table"
            ),
        )

    return (
        row("customer", del_cust, c)
        .unionByName(row("orders", del_ord, o))
        .unionByName(row("lineitem", del_li, li))
    )


# ---------------------------------------------------------------------------
# q306 — dedup threshold sweep (policy-tuning audit)
# ---------------------------------------------------------------------------


@query(
    "q306_dedup_threshold_sweep",
    oracle=r"""
        WITH d AS (
            SELECT doc_id,
                   list_distinct(string_split_regex(lower(trim(text)), '\s+'))
                       AS toks
            FROM documents
        ),
        i0 AS (SELECT doc_id, unnest(toks) AS item FROM d),
        keep AS (SELECT item FROM i0 GROUP BY item HAVING COUNT(*) <= 100),
        i AS (SELECT i0.doc_id, i0.item FROM i0 JOIN keep USING (item)),
        sz AS (SELECT doc_id, COUNT(*) AS set_size FROM i GROUP BY 1),
        sh AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
            FROM i a JOIN i b USING (item)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ),
        pj AS (
            SELECT id_a, id_b,
                   round(CAST(shared AS DOUBLE)
                         / (sa.set_size + sb.set_size - shared), 6) AS j
            FROM sh
            JOIN sz sa ON sh.id_a = sa.doc_id
            JOIN sz sb ON sh.id_b = sb.doc_id
        ),
        th(threshold) AS (VALUES (0.5), (0.6), (0.7), (0.8)),
        np AS (
            SELECT th.threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM th JOIN pj ON pj.j >= th.threshold GROUP BY 1
        ),
        u AS (
            SELECT DISTINCT th.threshold, pj.id_a AS doc
            FROM th JOIN pj ON pj.j >= th.threshold
            UNION
            SELECT DISTINCT th.threshold, pj.id_b
            FROM th JOIN pj ON pj.j >= th.threshold
        ),
        imp AS (
            SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_docs_implicated
            FROM u GROUP BY 1
        )
        SELECT th.threshold,
               COALESCE(np.n_pairs, 0) AS n_pairs,
               COALESCE(imp.n_docs_implicated, 0) AS n_docs_implicated
        FROM th
        LEFT JOIN np ON th.threshold = np.threshold
        LEFT JOIN imp ON th.threshold = imp.threshold
    """,
)
def q306_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How aggressive should dedup be: pair and implicated-doc counts
    at Jaccard thresholds 0.5–0.8 from ONE shared pair build (the
    max_df-capped inverted index, q43's construction, localCheckpointed
    so the sweep never re-shingles) — the policy-tuning audit an
    operator reads next to the cluster-size distribution (q299) before
    committing a threshold. Comparisons run on the 6dp-rounded Jaccard
    both engines compute identically."""
    from databricks_etl_spark.operators.dedup import jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    pj = jaccard_pairs(d, 0.5, ngram=1, max_df=100).localCheckpoint(eager=False)
    th = spark.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,)], "threshold double"
    )
    hit = F.broadcast(th).join(pj, pj["jaccard"] >= th["threshold"])
    np_ = hit.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    u = (
        hit.select("threshold", F.col("id_a").alias("doc"))
        .unionByName(hit.select("threshold", F.col("id_b").alias("doc")))
        .distinct()
    )
    imp = u.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_implicated")
    )
    return (
        th.join(np_, "threshold", "left")
        .join(imp, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_implicated", F.lit(0))
            .cast("long")
            .alias("n_docs_implicated"),
        )
    )


# ---------------------------------------------------------------------------
# q307/q308 — geospatial lane: grid-bucketed haversine radius join + NN
# ---------------------------------------------------------------------------

_Q307_R = 40.0  # km — below one grid degree everywhere at |lat| <= 60


def _geo_sql() -> str:
    """Shared oracle CTE chain for the geo lane: deterministic lat/lon
    points, 1-degree grid cells, the 3x3 neighborhood with ANTIMERIDIAN
    WRAP (cx arithmetic mod 360, so lon +179.9 and -179.9 are
    neighbors), and DIRECTED candidate distances within the working
    radius — ONE definition for both queries and both engines (the
    _semdedup_cells_sql precedent)."""
    return f"""pts AS (
            SELECT c_custkey AS id,
                   CAST(c_custkey % 12000 AS DOUBLE) / 100.0 - 60.0 AS lat,
                   CAST((c_custkey * 7) % 36000 AS DOUBLE) / 100.0 - 180.0
                       AS lon
            FROM customer
        ),
        cells AS (
            SELECT id, lat, lon,
                   CAST(floor(lat) AS BIGINT) AS cy,
                   CAST(floor(lon) AS BIGINT) AS cx
            FROM pts
        ),
        nb AS (
            SELECT id, lat, lon, cy + dy AS cy,
                   ((cx + dx + 540) % 360) - 180 AS cx
            FROM cells,
                 (SELECT unnest(range(-1, 2)) AS dy) a,
                 (SELECT unnest(range(-1, 2)) AS dx) b
        ),
        cand AS (
            SELECT n.id AS id_a, c.id AS id_b,
                   n.lat AS la, n.lon AS loa, c.lat AS lb, c.lon AS lob
            FROM nb n JOIN cells c ON n.cy = c.cy AND n.cx = c.cx
            WHERE n.id <> c.id
        ),
        d AS (
            SELECT id_a, id_b,
                   round(2.0 * 6371.0 * asin(sqrt(
                       sin(radians(lb - la) / 2.0)
                           * sin(radians(lb - la) / 2.0)
                       + cos(radians(la)) * cos(radians(lb))
                           * sin(radians(lob - loa) / 2.0)
                           * sin(radians(lob - loa) / 2.0))), 3) AS dist_km
            FROM cand
        ),
        within AS (
            SELECT id_a, id_b, dist_km FROM d WHERE dist_km <= {_Q307_R}
        )"""


def _geo_neighbor_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED (id_a, id_b, dist_km) pairs within the working radius —
    the engine twin of :func:`_geo_sql`'s ``within`` CTE: points on a
    1-degree grid, left side exploded to its 3x3 cell neighborhood
    with antimeridian wrap, candidates from the cell equi-join only
    (never all-pairs), exact haversine verify on candidates. Each
    directed pair appears exactly once (the right side carries its
    single home cell). |lat| <= 60 keeps one grid degree >= 55 km >
    the 40 km radius, so the 3x3 ring is complete; latitude cells
    never wrap (no points near the poles)."""
    c = read_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 12000).cast("double") / 100.0 - 60.0).alias("lat"),
        (((F.col("c_custkey") * 7) % 36000).cast("double") / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    cells = pts.select(
        "id", "lat", "lon",
        F.floor("lat").cast("long").alias("cy"),
        F.floor("lon").cast("long").alias("cx"),
    )
    off = spark.createDataFrame(
        [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)], "dy long, dx long"
    )
    nb = cells.crossJoin(F.broadcast(off)).select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("la"),
        F.col("lon").alias("loa"),
        (F.col("cy") + F.col("dy")).alias("cy"),
        (((F.col("cx") + F.col("dx") + 540) % 360) - 180).alias("cx"),
    )
    right = cells.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lb"),
        F.col("lon").alias("lob"),
        "cy",
        "cx",
    )
    cand = nb.join(right, ["cy", "cx"]).filter(F.col("id_a") != F.col("id_b"))
    half_dlat = F.radians(F.col("lb") - F.col("la")) / 2.0
    half_dlon = F.radians(F.col("lob") - F.col("loa")) / 2.0
    hav = (
        F.sin(half_dlat) * F.sin(half_dlat)
        + F.cos(F.radians("la")) * F.cos(F.radians("lb"))
        * F.sin(half_dlon) * F.sin(half_dlon)
    )
    return cand.select(
        "id_a", "id_b",
        F.round(2.0 * 6371.0 * F.asin(F.sqrt(hav)), 3).alias("dist_km"),
    ).filter(F.col("dist_km") <= _Q307_R)


@query(
    "q307_geo_radius_join",
    oracle=f"""
        WITH {_geo_sql()}
        SELECT id_a, id_b, dist_km FROM within WHERE id_a < id_b
    """,
)
def q307_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial radius self-join, the scalable way: 1-degree grid
    bucketing with antimeridian wrap, 3x3 neighborhood candidates from
    the cell equi-join only — NEVER an all-pairs distance computation
    — then exact haversine verify (the standard geohash-bucket +
    verify spatial join). Undirected output: each pair once via
    id_a < id_b over the shared directed candidate relation
    (:func:`_geo_neighbor_distances`). Trig is cross-engine bit-stable
    here (the ln/exp precedent); distances round to 3 dp before the
    threshold compare."""
    return _geo_neighbor_distances(spark, sf_dir).filter(
        F.col("id_a") < F.col("id_b")
    )


@query(
    "q308_geo_nearest_neighbor",
    oracle=f"""
        WITH {_geo_sql()},
        r AS (
            SELECT id_a AS id, id_b AS nearest_id, dist_km,
                   row_number() OVER (
                       PARTITION BY id_a ORDER BY dist_km, id_b) AS rk
            FROM within
        )
        SELECT id, nearest_id, dist_km FROM r WHERE rk = 1
    """,
)
def q308_geo_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest spatial neighbor within the 40 km working radius, from
    the SAME directed candidate relation as q307 (points whose nearest
    neighbor is farther than the radius are absent — production then
    widens the ring, the standard iterative-expansion NN search).
    Argmin per point, (dist, id) tiebroken; the per-point window is
    bounded by cell occupancy."""
    d = _geo_neighbor_distances(spark, sf_dir)
    w = Window.partitionBy("id_a").orderBy("dist_km", "id_b")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("id_a").alias("id"),
            F.col("id_b").alias("nearest_id"),
            "dist_km",
        )
    )


# ---------------------------------------------------------------------------
# q309 — multimodal joint dedup verdict
# ---------------------------------------------------------------------------


@query(
    "q309_multimodal_dedup_verdict",
    oracle=rf"""
        WITH {_Q300_AHASH},
        tfp AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS fp
            FROM documents WHERE doc_id < 200
        ),
        wd AS (
            SELECT doc_id, 32 + doc_id % 97 AS n
            FROM documents WHERE doc_id < 200
        ),
        ws AS (
            SELECT doc_id, n, i,
                   ((doc_id * 131 + i * 7919) % 65536) - 32768 AS v
            FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM wd)
        ),
        wfr AS (
            SELECT doc_id, CAST(i * 16 // n AS BIGINT) AS f,
                   SUM(v * v) AS energy
            FROM ws GROUP BY 1, 2
        ),
        afp AS (
            SELECT a.doc_id,
                   CAST(SUM(CASE WHEN b.energy > a.energy
                            THEN (CAST(1 AS BIGINT) << CAST(a.f AS INT))
                            ELSE 0 END) AS BIGINT) AS fp
            FROM wfr a JOIN wfr b
              ON a.doc_id = b.doc_id AND b.f = a.f + 1
            GROUP BY 1
        ),
        tdup AS (
            SELECT doc_id, COUNT(*) OVER (PARTITION BY fp) > 1 AS hit
            FROM tfp
        ),
        idup AS (
            SELECT doc_id, COUNT(*) OVER (PARTITION BY ahash) > 1 AS hit
            FROM ah
        ),
        adup AS (
            SELECT doc_id, COUNT(*) OVER (PARTITION BY fp) > 1 AS hit
            FROM afp
        )
        SELECT t.doc_id,
               t.hit AS text_dup,
               i.hit AS image_dup,
               a.hit AS audio_dup,
               (t.hit OR i.hit OR a.hit) AS any_dup
        FROM tdup t
        JOIN idup i ON t.doc_id = i.doc_id
        JOIN adup a ON t.doc_id = a.doc_id
    """,
)
def q309_multimodal_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal dedup capstone: ONE verdict per document joining
    the three modality fingerprints the engine extracts through real
    codecs — normalized-text md5 (q40), image aHash through the BMP
    parser (q300), audio energy contour through the RIFF parser (q303)
    — a document is a duplicate candidate if ANY modality collides
    with another document. This is the cross-modal policy a training
    pipeline actually enforces (re-encoded images and re-narrated
    audio survive text-only dedup). Each modality's collision flag is
    a count-over-fingerprint window (bounded by fingerprint
    multiplicity); the three flags join on doc_id."""
    from databricks_etl_spark.operators import multimodal as MM
    from databricks_etl_spark.operators.text import doc_fingerprint

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tfp = doc_fingerprint(d).select("doc_id", F.col("md5_fp").alias("fp"))
    ifp = MM.image_ahash(MM.generate_bmp_payloads(d))
    afp = MM.audio_fingerprints(MM.generate_wav_payloads(d))

    def flag(df, col, name):
        w = Window.partitionBy(col)
        return df.select(
            "doc_id", (F.count(F.lit(1)).over(w) > 1).alias(name)
        )

    return (
        flag(tfp, "fp", "text_dup")
        .join(flag(ifp, "ahash", "image_dup"), "doc_id")
        .join(flag(afp, "afp", "audio_dup"), "doc_id")
        .select(
            "doc_id",
            "text_dup",
            "image_dup",
            "audio_dup",
            (F.col("text_dup") | F.col("image_dup") | F.col("audio_dup")).alias(
                "any_dup"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q310 — ANN quality metrics (recall@10 / MRR), fully oracled
# ---------------------------------------------------------------------------


@query(
    "q310_ann_recall_mrr",
    oracle=f"""
        WITH cents(cid, c) AS (
            VALUES {", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))}
        ),
        casg AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM embeddings, cents
        ),
        cells AS (
            SELECT vec_id, embedding, CAST(cid AS INT) AS cell_id
            FROM casg WHERE rn = 1
        ),
        q AS (SELECT * FROM cells WHERE vec_id < 20),
        s AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   q.cell_id = c.cell_id AS same_cell,
                   round({_dot_sql('q.embedding', 'c.embedding')}
                         / (sqrt({_dot_sql('q.embedding', 'q.embedding')})
                            * sqrt({_dot_sql('c.embedding', 'c.embedding')})),
                         6) AS sim
            FROM q JOIN cells c ON q.vec_id <> c.vec_id
        ),
        ex AS (
            SELECT qid, nid,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY sim DESC, nid) AS rk
            FROM s
        ),
        truth AS (SELECT qid, nid, rk FROM ex WHERE rk <= 10),
        ann AS (
            SELECT qid, nid,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY sim DESC, nid) AS rk
            FROM s WHERE same_cell
        ),
        approx AS (SELECT qid, nid FROM ann WHERE rk <= 10),
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
                   AS mean_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS top1_recall
        FROM per
    """,
)
def q310_ann_recall_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QUALITY metrics made hash-checkable: the deterministic
    cell-restricted search (probe only the query's own comb cell —
    IVF with n_probe=1 over q285's quantizer) scored against the exact
    brute-force top-10 truth: mean recall@10 and top-1 recall over 20
    query vectors. The seeded production indexes (BRP q48, IVF q68)
    get rows-only bracket gates (q145/q116); this twin proves the
    *evaluation machinery itself* end to end against an oracle, so a
    recall-computation bug can't hide inside the gates. Per-query
    ratios accumulate in DECIMAL; both rankings share the
    (sim DESC, id) total order."""
    from databricks_etl_spark.operators.similarity import (
        assign_cells,
        norm,
        paired_cosine,
    )

    e = read_table(spark, sf_dir, "embeddings")
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    cells = assign_cells(e, cents).localCheckpoint(eager=False)
    qv = cells.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("__qe"),
        norm(F.col("embedding")).alias("__qn"),
        F.col("cell_id").alias("__qc"),
    )
    s = (
        cells.withColumn("__cn", norm(F.col("embedding")))
        .join(F.broadcast(qv), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            (F.col("cell_id") == F.col("__qc")).alias("same_cell"),
            F.round(
                paired_cosine(
                    F.col("__qe"),
                    F.col("embedding"),
                    F.col("__qn"),
                    F.col("__cn"),
                ),
                6,
            ).alias("sim"),
        )
        .localCheckpoint(eager=False)  # one scoring pass feeds both rankings
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    truth = (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("qid", "nid", "rk")
    )
    # FULL rename on the approx side: truth and ann share lineage (one
    # localCheckpointed scoring pass), so joining on same-named columns
    # would hit Spark's ambiguous self-join resolution
    ann = (
        s.filter("same_cell")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(F.col("qid").alias("__aqid"), F.col("nid").alias("__anid"))
    )
    hits = (
        truth.join(
            ann,
            (F.col("qid") == F.col("__aqid")) & (F.col("nid") == F.col("__anid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("__anid").cast("long").alias("n_hit"),
            F.min(
                F.when((F.col("rk") == 1) & F.col("__anid").isNotNull(), 1.0)
            ).alias("top1_found"),
        )
    )
    per = hits.select(
        F.round(F.col("n_hit") / 10.0, 6).cast("decimal(18,9)").alias("recall10"),
        F.coalesce("top1_found", F.lit(0.0)).cast("decimal(18,9)").alias("top1"),
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("recall10").cast("double") / n, 6).alias("mean_recall_at_10"),
        F.round(F.sum("top1").cast("double") / n, 6).alias("top1_recall"),
    )


# ---------------------------------------------------------------------------
# q311 — vocabulary drift between corpus snapshots (token-level PSI)
# ---------------------------------------------------------------------------

_Q311_K = 50


@query(
    "q311_vocab_drift",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id % 2 AS snap,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents
        ),
        top AS (
            SELECT w FROM (
                SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
                ORDER BY c DESC, w LIMIT {_Q311_K}
            )
        ),
        per AS (
            SELECT top.w,
                   CAST(SUM(CASE WHEN tok.snap = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN tok.snap = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM top JOIN tok ON top.w = tok.w
            GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM per),
        c AS (
            SELECT w AS token, n_a, n_b,
                   round(((CAST(n_a AS DOUBLE) + 1.0)
                              / (CAST(ta AS DOUBLE) + {_Q311_K})
                          - (CAST(n_b AS DOUBLE) + 1.0)
                              / (CAST(tb AS DOUBLE) + {_Q311_K}))
                         * ln(((CAST(n_a AS DOUBLE) + 1.0)
                                   / (CAST(ta AS DOUBLE) + {_Q311_K}))
                              / ((CAST(n_b AS DOUBLE) + 1.0)
                                   / (CAST(tb AS DOUBLE) + {_Q311_K}))),
                         6) + 0.0 AS psi_contrib
            FROM per, tot
        ),
        s AS (
            SELECT round(CAST(SUM(CAST(psi_contrib AS DECIMAL(18,6)))
                              AS DOUBLE), 6) + 0.0 AS psi_total
            FROM c
        )
        SELECT c.token, c.n_a, c.n_b, c.psi_contrib, s.psi_total FROM c, s
    """,
)
def q311_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift monitor at the VOCABULARY level: the top-50 tokens
    by total count, with their Laplace-smoothed frequency shares
    compared between two snapshots (even/odd doc halves playing two
    crawls) via per-token PSI contributions — the drift alarm an LLM
    data pipeline runs between crawl batches (a topic shift or a spam
    influx moves token mass long before quality metrics drop; q293 is
    the numeric-feature sibling). Top-K selection is
    TakeOrderedAndProject with an explicit (count, token) total order;
    contributions round then decimal-sum into the stated total."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2).alias("snap"), F.explode(tokens_col("text")).alias("w")
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_Q311_K)
        .select("w")
    )
    per = (
        top.join(tok, "w")
        .groupBy("w")
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
        F.col("ta").cast("double") + float(_Q311_K)
    )
    pb = (F.col("n_b").cast("double") + 1.0) / (
        F.col("tb").cast("double") + float(_Q311_K)
    )
    c = per.crossJoin(F.broadcast(tot)).select(
        F.col("w").alias("token"),
        "n_a",
        "n_b",
        (F.round((pa - pb) * F.log(pa / pb), 6) + F.lit(0.0)).alias("psi_contrib"),
    )
    s = c.agg(
        (
            F.round(
                F.sum(F.col("psi_contrib").cast("decimal(18,6)")).cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("psi_total")
    )
    return c.crossJoin(F.broadcast(s))
