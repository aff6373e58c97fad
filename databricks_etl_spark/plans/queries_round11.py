r"""Round-11 queries: distributed BPE merge INDUCTION — learning the
subword vocabulary from the corpus instead of tokenizing against a
given one (VERDICT r10 #2) — plus the round's incremental-ANN,
skew-hardening, streaming and release-gate lanes.

No reference counterpart: the reference notebooks (pre_analysis.py /
pre_process.py / transform.py) have no tokenizer machinery; these
extend the engine's north-star LLM-data surface (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_etl_spark.plans.registry import QUERIES, query
from databricks_etl_spark.sources.readers import read_table

# oracles below embed round-9/10 oracle SQL via the registry, so a
# DIRECT import of this module must register those rounds first
import databricks_etl_spark.plans.queries_round10  # noqa: E402,F401  isort: skip

# ---------------------------------------------------------------------------
# q382 — BPE merge induction: LEARN the vocabulary from the corpus
# ---------------------------------------------------------------------------

_Q382_K = 10  # learned merges; bounded fixed-point iteration count

# Session-scoped learner cache: six registered lanes (q382/q383/q389/
# q391/q392/q393) consume the SAME deterministic learning run, and the
# driver calls each as an independent query — without memoization every
# lane re-pays the k bounded jobs. Keyed on (Spark application, corpus
# dir, k, variant); values are the merge list plus the per-step
# localCheckpoint'd segmentations, which stay valid for the life of the
# application. Pure read-through cache of a deterministic computation —
# results are byte-identical with or without it.
_BPE_CACHE: dict = {}


def _learned(spark: SparkSession, sf_dir: str, variant: str = "base"):
    import os as _os

    from databricks_etl_spark.operators.text import bpe_learn

    key = (
        spark.sparkContext.applicationId,
        _os.path.realpath(sf_dir),
        _Q382_K,
        variant,
    )
    if key not in _BPE_CACHE:
        d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        if variant == "aug":
            d = d.unionByName(_q391_delta_docs(d))
        elif variant == "shipped":
            from databricks_etl_spark.plans.queries_round8 import (
                q312_training_manifest,
            )

            ship = (
                q312_training_manifest(spark, sf_dir)
                .filter("ship")
                .select("doc_id")
            )
            d = d.join(ship, "doc_id")
        _BPE_CACHE[key] = bpe_learn(d, _Q382_K)
    return _BPE_CACHE[key]



def _bpe_chain_sql(k: int, prefix: str = "bpe", src: str = "documents") -> str:
    """The k-step BPE learning recursion, UNROLLED as a CTE chain (one
    (pairs, argmax, re-segment) triple per step) — the honest DuckDB
    statement of the same fixed point the Spark learner iterates.
    Every ``bpe_seg_i`` / ``bpe_best_i`` is ``AS MATERIALIZED``: the
    re-segmentation is a recursive CTE that references both, and DuckDB
    inlines (re-evaluates!) non-materialized CTEs referenced from a
    recursive term — unmaterialized, step i would recompute the entire
    chain below it once per recursion depth (the q326 gotcha,
    CLAUDE.md). ``prefix``/``src`` re-point the CTE namespace and the
    document relation (byte-identical at the defaults) so q391 can run
    TWO chains — corpus and corpus∪delta — in one statement. Must sit
    inside a WITH RECURSIVE chain; exposes
    ``bpe_vt`` (doc_id, w), ``bpe_words`` (w, f), ``bpe_seg_{k}`` (the
    final segmentation) and ``bpe_merges`` (step, l, r, cnt)."""
    p_ = prefix
    parts = [
        f"""{p_}_tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM {src}
        ),
        {p_}_vt AS MATERIALIZED (
            SELECT doc_id, w FROM {p_}_tok WHERE length(w) >= 1
        ),
        {p_}_words AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM {p_}_vt GROUP BY 1
        ),
        {p_}_seg_0 AS MATERIALIZED (
            SELECT w, f,
                   list_transform(generate_series(1, length(w)),
                                  i -> substr(w, i, 1)) AS syms
            FROM {p_}_words
        )"""
    ]
    for i in range(k):
        parts.append(f"""{p_}_pr_{i} AS (
            SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                       j -> struct_pack(l := syms[j], r := syms[j + 1]))) AS p,
                   f
            FROM {p_}_seg_{i} WHERE len(syms) >= 2
        ),
        {p_}_best_{i} AS MATERIALIZED (
            SELECT p.l AS l, p.r AS r, CAST(SUM(f) AS BIGINT) AS cnt
            FROM {p_}_pr_{i} GROUP BY 1, 2
            ORDER BY cnt DESC, l, r LIMIT 1
        ),
        {p_}_rs_{i} AS (
            SELECT s.w, s.f, s.syms, 1 AS j, CAST([] AS VARCHAR[]) AS out
            FROM {p_}_seg_{i} s
            UNION ALL
            SELECT t.w, t.f, t.syms,
                   t.j + CASE WHEN t.j < len(t.syms)
                                   AND t.syms[t.j] = b.l
                                   AND t.syms[t.j + 1] = b.r
                              THEN 2 ELSE 1 END,
                   list_append(t.out,
                       CASE WHEN t.j < len(t.syms)
                                 AND t.syms[t.j] = b.l
                                 AND t.syms[t.j + 1] = b.r
                            THEN b.l || b.r ELSE t.syms[t.j] END)
            FROM {p_}_rs_{i} t, {p_}_best_{i} b WHERE t.j <= len(t.syms)
        ),
        {p_}_seg_{i + 1} AS MATERIALIZED (
            SELECT w, f, out AS syms FROM {p_}_rs_{i} WHERE j > len(syms)
        )""")
    union = "\n            UNION ALL\n".join(
        f"            SELECT CAST({i + 1} AS BIGINT) AS step, l, r, cnt"
        f" FROM {p_}_best_{i}"
        for i in range(k)
    )
    parts.append(f"""{p_}_merges AS MATERIALIZED (
{union}
        )""")
    return ",\n        ".join(parts)


def _q382_oracle() -> str:
    return f"""
        WITH RECURSIVE
        {_bpe_chain_sql(_Q382_K)}
        SELECT step, l AS left_sym, r AS right_sym,
               l || r AS merged, cnt AS pair_count
        FROM bpe_merges
    """


@query("q382_bpe_merge_induction", oracle=_q382_oracle())
def q382_bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARN the BPE merge table from the corpus — the vocabulary-
    induction step every real pipeline runs before it can tokenize,
    and the one tokenizer operator this engine consumed but never
    produced (q328/q360 tokenize against GIVEN vocabularies). Classic
    frequency-weighted byte-pair encoding (Sennrich et al. 2016):
    start from characters, repeatedly fuse the most frequent adjacent
    symbol pair (ties broken count DESC, left ASC, right ASC), k
    bounded iterations. Returns the ordered merge table
    (step, left_sym, right_sym, merged, pair_count).

    Scale shape (operators/text.learn_bpe_merge_list): one corpus-
    sized word-count pass, then every iteration is a pure aggregation
    over the DISTINCT-word relation (vocabulary-bounded, hash-
    partitioned by word) with a single argmax row as driver traffic —
    the q213 bounded-fixed-point discipline; re-segmentation is a
    whole-stage-codegen replace-last ``aggregate`` fold, lineage
    truncated per step. The oracle states the identical fixed point as
    an unrolled CTE chain whose per-step re-segmentation is a
    per-word recursive walk; Spark's fold and the oracle's walk are
    both property-tested against a pure-Python reference BPE
    (tests/test_round11.py)."""
    merges, _ = _learned(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "step long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


# ---------------------------------------------------------------------------
# q383 — corpus fertility under the LEARNED vocabulary
# ---------------------------------------------------------------------------


def _q383_oracle() -> str:
    return f"""
        WITH RECURSIVE
        {_bpe_chain_sql(_Q382_K)},
        lv4 AS MATERIALIZED (
            SELECT DISTINCT l || r AS p FROM bpe_merges
            WHERE length(l || r) = 4
        ),
        lv3 AS MATERIALIZED (
            SELECT DISTINCT l || r AS p FROM bpe_merges
            WHERE length(l || r) = 3
        ),
        lv2 AS MATERIALIZED (
            SELECT DISTINCT l || r AS p FROM bpe_merges
            WHERE length(l || r) = 2
        ),
        tk AS (
            SELECT w, 1 AS pos, 0 AS cnt, 0 AS unk FROM bpe_words
            UNION ALL
            SELECT t.w,
                   t.pos + CASE WHEN v4.p IS NOT NULL THEN 4
                                WHEN v3.p IS NOT NULL THEN 3
                                WHEN v2.p IS NOT NULL THEN 2
                                ELSE 1 END,
                   t.cnt + 1,
                   t.unk + CASE WHEN v4.p IS NULL AND v3.p IS NULL
                                     AND v2.p IS NULL
                                THEN 1 ELSE 0 END
            FROM tk t
            LEFT JOIN lv4 v4 ON v4.p = substr(t.w, t.pos, 4)
            LEFT JOIN lv3 v3 ON v3.p = substr(t.w, t.pos, 3)
            LEFT JOIN lv2 v2 ON v2.p = substr(t.w, t.pos, 2)
            WHERE t.pos <= length(t.w)
        ),
        wc AS (SELECT w, cnt, unk FROM tk WHERE pos > length(w)),
        per AS (
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(wc.cnt) AS BIGINT) AS n_pieces,
                   CAST(SUM(wc.unk) AS BIGINT) AS n_unk
            FROM bpe_vt v
            JOIN wc USING (w)
            JOIN documents d USING (doc_id)
            GROUP BY 1
        )
        SELECT source, n_words, n_pieces, n_unk,
               round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS fertility,
               round(CAST(n_unk AS DOUBLE) / n_pieces, 6) AS unk_rate
        FROM per
    """


@query("q383_learned_vocab_fertility", oracle=_q383_oracle())
def q383_learned_vocab_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q328 RE-BASED on the LEARNED vocabulary: tokenize the corpus
    with the greedy longest-match inference tokenizer
    (operators/text.subword_piece_stats — the production kernel, via
    its q360 vocab-override hooks) against the merge table q382 just
    induced, and report per-source fertility (pieces per word) and
    fallback rate (share of 1-char fallback pieces — the OOV analog).
    Closes the learn -> tokenize loop: the vocabulary blocks are the
    learned merged tokens regrouped by piece length
    (operators/text.bpe_vocab_blocks), so the tokenizer the pipeline
    ships and the vocabulary it learned cannot drift apart.

    Scale shape: the learner's k bounded iterations (q382), then the
    q328 shuffle shape — each DISTINCT word tokenizes once via the
    codegen fold, piece stats join back to the exploded token stream
    hash-partitioned on the word, rollup is per-source-bounded. The
    learned merge table itself is k driver-side rows (bounded, S10).
    Oracle: the identical unrolled learning chain + the consumption
    recursion with the vocab JOINED from the learned merge relation
    (the literal-IN form of q328's oracle, vocab-from-data instead of
    vocab-from-constants)."""
    from databricks_etl_spark.operators.text import (
        bpe_vocab_blocks,
        subword_piece_stats,
        tokens_col,
    )

    d = read_table(spark, sf_dir, "documents")
    v4, v3, v2 = bpe_vocab_blocks(_learned(spark, sf_dir)[0])
    tok = d.select(
        "doc_id", "source", F.explode(tokens_col("text")).alias("w")
    ).filter(F.length("w") >= 1)
    wc = (
        tok.select("w")
        .distinct()
        .select(
            "w",
            subword_piece_stats(F.col("w"), v4=v4, v3=v3, v2=v2).alias("st"),
        )
    )
    return (
        tok.join(wc, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("st.cnt").cast("long").alias("n_pieces"),
            F.sum("st.unk").cast("long").alias("n_unk"),
        )
        .select(
            "source",
            "n_words",
            "n_pieces",
            "n_unk",
            F.round(
                F.col("n_pieces").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_unk").cast("double") / F.col("n_pieces"), 6
            ).alias("unk_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q384 — incremental ANN index maintenance (frozen centroids + codebooks)
# ---------------------------------------------------------------------------

_Q384_B = 10_000  # delta re-identification offset (embeddings max id ~5e3)
_Q384_MODULUS = 7  # delta selector: vec_id % 7 == 2 becomes a new vector


def _q384_index(vectors: DataFrame) -> DataFrame:
    """The serving index rows for a vector batch under the FROZEN
    coarse quantizer (q285's literal centroids) and FROZEN PQ
    codebooks (q316's literal lattice): per vector, its IVF cell and
    its 8-subspace PQ code rendered as a 16-hex-digit string (two
    digits per subspace, subspace order). Pure composition of the
    production operators — nothing here re-trains anything, which is
    exactly what makes delta maintenance sound."""
    from databricks_etl_spark.operators.similarity import (
        assign_cells,
        pq_assign,
    )
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS
    from databricks_etl_spark.plans.queries_round8 import (
        _Q316_CB,
        _Q316_K,
        _Q316_M,
        _Q316_SUB,
    )

    spark = vectors.sparkSession
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    cb = spark.createDataFrame(
        [
            (m, k, _Q316_CB[m][k])
            for m in range(_Q316_M)
            for k in range(_Q316_K)
        ],
        "m int, k int, cw array<double>",
    )
    cells = assign_cells(vectors, cents).select("vec_id", "cell_id")
    codes = (
        pq_assign(vectors, cb, _Q316_M, _Q316_SUB)
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "k"))),
                    lambda s: F.lpad(
                        s.getField("k").cast("string"), 2, "0"
                    ),
                ),
                "",
            ).alias("code")
        )
    )
    return cells.join(codes, "vec_id")


def _q384_delta(base: DataFrame) -> DataFrame:
    """Deterministic delta batch: every vec_id % {_Q384_MODULUS} == 2
    vector arrives NEGATED (exact IEEE op — no cross-engine drift)
    under a fresh id, so deltas scatter across cells and codewords."""
    return base.filter(F.col("vec_id") % _Q384_MODULUS == 2).select(
        (F.col("vec_id") + _Q384_B).alias("vec_id"),
        F.transform(
            "embedding", lambda x: -x.cast("double")
        ).alias("embedding"),
    )


def _q384_manifest(idx: DataFrame, n_col: str, h_col: str) -> DataFrame:
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_col

    payload = F.concat_ws("|", "vec_id", "cell_id", "code")
    return idx.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias(n_col),
        F.sum(_md5_mod_col(payload)).cast("long").alias(h_col),
    )


def _q384_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_D2,
    )
    from databricks_etl_spark.plans.queries_round8 import (
        _Q316_CB,
        _Q316_K,
        _Q316_M,
        _Q316_SUB,
    )
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_sql

    cvals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    cbvals = ", ".join(
        f"({m}, {k}, {_Q316_CB[m][k]})"
        for m in range(_Q316_M)
        for k in range(_Q316_K)
    )
    payload = (
        "CAST(vec_id AS VARCHAR) || '|' || CAST(cell_id AS VARCHAR)"
        " || '|' || code"
    )
    return f"""
        WITH au AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS embedding
            FROM embeddings
            UNION ALL
            SELECT vec_id + {_Q384_B},
                   list_transform(embedding, x -> -CAST(x AS DOUBLE))
            FROM embeddings WHERE vec_id % {_Q384_MODULUS} = 2
        ),
        cents(cid, c) AS (VALUES {cvals}),
        asg AS (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM au, cents
        ),
        cells AS (
            SELECT vec_id, CAST(cid AS INT) AS cell_id
            FROM asg WHERE rn = 1
        ),
        cb(m, k, cw) AS (VALUES {cbvals}),
        sub AS (
            SELECT vec_id, m,
                   list_slice(embedding, m * {_Q316_SUB} + 1,
                              m * {_Q316_SUB} + {_Q316_SUB}) AS sv
            FROM au, (SELECT unnest(range(0, {_Q316_M})) AS m)
        ),
        dists AS (
            SELECT vec_id, m, k,
                   list_sum(list_transform(range(1, {_Q316_SUB} + 1),
                       j -> (CAST(sv[j] AS DOUBLE) - cw[j])
                            * (CAST(sv[j] AS DOUBLE) - cw[j]))) AS d2
            FROM sub JOIN cb USING (m)
        ),
        chosen AS (
            SELECT vec_id, m, k FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, m ORDER BY d2, k) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        codes AS (
            SELECT vec_id,
                   string_agg(lpad(CAST(k AS VARCHAR), 2, '0'), ''
                              ORDER BY m) AS code
            FROM chosen GROUP BY 1
        ),
        idx AS (
            SELECT c.vec_id, c.cell_id, cd.code,
                   CASE WHEN c.vec_id >= {_Q384_B} THEN 1 ELSE 0 END AS isd
            FROM cells c JOIN codes cd USING (vec_id)
        ),
        h AS (
            SELECT cell_id, isd, {_md5_mod_sql(payload)} AS rh FROM idx
        )
        SELECT CAST(cell_id AS BIGINT) AS cell_id,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(isd) AS BIGINT) AS n_delta,
               CAST(SUM(rh) AS BIGINT) AS content_hash
        FROM h GROUP BY 1
    """


@query("q384_incremental_ann_index", oracle=_q384_oracle())
def q384_incremental_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the q374 delta discipline
    applied to the serving index q362 evaluates: the corpus index
    (IVF cell + PQ code per vector, frozen q285 centroids and q316
    codebooks) is the existing artifact; a delta batch (negated
    re-identified vectors, the q363 synthesis pattern) is assigned and
    encoded ALONE; and the published per-cell manifest is the old
    manifest ⊕ the delta's contributions — counts add, and the
    order-independent md5-nibble content hashes (q344's sum-mod
    discipline) add exactly. The ORACLE is the from-scratch recompute
    over corpus ∪ delta — hash-green means the incremental append is
    byte-equivalent to rebuilding the index, which is the strongest
    delta-identity proof available (q374's argument). Because the
    quantizers are frozen, a delta vector's cell and code depend only
    on itself — the property that makes append-only maintenance sound;
    re-training either artifact would invalidate it, and that event is
    exactly what the manifest hash would catch.

    Scale shape: centroids (8 rows) and codebooks (128 rows)
    broadcast; both index passes are per-vector windows over
    n_centroids/n_codewords rows (never over the data); the manifest
    combine is a per-cell outer join of two 8-row aggregates. The
    corpus side would be READ from the published artifact at 100 TB —
    here it is recomputed once to stand in for that read, and the
    delta side provably never touches it (test:
    untouched cells keep byte-identical manifest rows)."""
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    man_base = _q384_manifest(_q384_index(base), "nb", "hb")
    man_delta = _q384_manifest(_q384_index(_q384_delta(base)), "nd", "hd")
    return man_base.join(man_delta, "cell_id", "full_outer").select(
        F.col("cell_id").cast("long").alias("cell_id"),
        (F.coalesce("nb", F.lit(0)) + F.coalesce("nd", F.lit(0)))
        .cast("long")
        .alias("n_vectors"),
        F.coalesce("nd", F.lit(0)).cast("long").alias("n_delta"),
        (F.coalesce("hb", F.lit(0)) + F.coalesce("hd", F.lit(0)))
        .cast("long")
        .alias("content_hash"),
    )


# ---------------------------------------------------------------------------
# q385 — streaming incremental dup-flow (ingest-time ≡ batch q363)
# ---------------------------------------------------------------------------


def _q385_register() -> None:
    from databricks_etl_spark.plans.queries_round10 import _q363_oracle

    @query("q385_streaming_dup_flow", oracle=_q363_oracle())
    def q385_streaming_dup_flow(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """q363's incremental dup-flow maintained AT INGEST — the
        round's streaming lane, completing the q361 discipline for the
        delta-probe family: the crawl batch arrives as micro-batches,
        the corpus posting index stays FROZEN (never re-tokenized,
        re-capped, or self-joined), and each ``foreachBatch`` body
        probes only its batch's synthesized delta docs against the
        static index, landing the labeled PAIR relation in an
        epoch-idempotent sink (``streaming/dupflow.py``). Every
        delta doc's verdict depends only on itself plus the frozen
        index — per-row independence — so the drained rollup is
        micro-batch-slicing-invariant and registers with q363's OWN
        oracle SQL: the streaming path itself is driver-hash-checked.
        Landing pairs (not partial aggregates) keeps the matrix's
        DISTINCT counts exact with zero cross-batch executor state;
        the sink is bounded by the batch's duplicate pairs, which the
        frozen posting cap bounds in turn (q363's scale argument,
        unchanged)."""
        from databricks_etl_spark.streaming.dupflow import (
            run_streaming_dup_flow,
        )

        return run_streaming_dup_flow(spark, sf_dir)


_q385_register()


# ---------------------------------------------------------------------------
# q386 — fail-closed release gate over the datasheet + leak + chaining lanes
# ---------------------------------------------------------------------------

# Release thresholds. Calibrated to pass on the shipped corpus at every
# local SF (sf0.001 worst cases: novelty 0.872, leak 0.069, bias 0.066,
# '10+' min density 1.0) with honest headroom — tight enough that a
# real regression (a leaked eval set, a boilerplate flood, a chained
# mega-cluster) flips the verdict.
_Q386_MAX_LEAK = 0.10  # per held-out split chunk leak rate
_Q386_MIN_NOVELTY = 0.80  # per source eval n-gram novelty
_Q386_MAX_HEAVY = 0.25  # per source heavy-repetition occurrence share
_Q386_MAX_LOSS = 0.20  # per source truncation loss fraction
_Q386_MAX_BIAS = 0.15  # per source |retrieval bias|
_Q386_MIN_DENSITY = 0.30  # min edge density for 5+-member dup clusters


def release_gate(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_leak: float = _Q386_MAX_LEAK,
    min_novelty: float = _Q386_MIN_NOVELTY,
    max_heavy: float = _Q386_MAX_HEAVY,
    max_loss: float = _Q386_MAX_LOSS,
    max_bias: float = _Q386_MAX_BIAS,
    min_density: float = _Q386_MIN_DENSITY,
) -> DataFrame:
    """The q386 verdict kernel with the thresholds as kwargs (the
    sweep-kwarg discipline: defaults are the production constants,
    and the planted-violation test flips exactly one knob)."""
    from databricks_etl_spark.plans.queries_round10 import (
        q365_cluster_density_audit,
        q379_heldout_leak_rate,
        q381_release_datasheet_v2,
    )

    one = F.count(F.lit(1))
    ds = q381_release_datasheet_v2(spark, sf_dir).agg(
        one.cast("long").alias("n_sources"),
        F.coalesce(
            F.sum(
                F.when(F.col("eval_novelty") < min_novelty, 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_novelty"),
        F.coalesce(
            F.sum(F.when(F.col("heavy_share") > max_heavy, 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_heavy"),
        F.coalesce(
            F.sum(F.when(F.col("loss_frac") > max_loss, 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_loss"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("retrieval_bias")) > max_bias, 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_bias"),
    )
    lk = q379_heldout_leak_rate(spark, sf_dir).agg(
        one.cast("long").alias("n_splits"),
        F.coalesce(
            F.sum(F.when(F.col("leak_rate") > max_leak, 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_leak"),
    )
    ch = q365_cluster_density_audit(spark, sf_dir).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("size_bucket").isin("5-9", "10+")
                    & (F.col("min_density") < min_density),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_chaining"),
    )
    nv = (
        F.col("viol_leak")
        + F.col("viol_novelty")
        + F.col("viol_heavy")
        + F.col("viol_loss")
        + F.col("viol_bias")
        + F.col("viol_chaining")
    )
    return (
        ds.crossJoin(F.broadcast(lk))
        .crossJoin(F.broadcast(ch))
        .select(
            "n_sources",
            "n_splits",
            "viol_leak",
            "viol_novelty",
            "viol_heavy",
            "viol_loss",
            "viol_bias",
            "viol_chaining",
            nv.cast("long").alias("n_violations"),
            F.when(
                (nv == 0)
                & (F.col("n_sources") > 0)
                & (F.col("n_splits") > 0),
                F.lit("RELEASE"),
            )
            .otherwise(F.lit("HOLD"))
            .alias("verdict"),
        )
    )


def _q386_oracle() -> str:
    o381 = QUERIES["q381_release_datasheet_v2"].oracle
    o379 = QUERIES["q379_heldout_leak_rate"].oracle
    o365 = QUERIES["q365_cluster_density_audit"].oracle
    return f"""
        WITH ds_in AS MATERIALIZED (SELECT * FROM ({o381})),
        lk_in AS MATERIALIZED (SELECT * FROM ({o379})),
        ch_in AS MATERIALIZED (SELECT * FROM ({o365})),
        ds AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(COALESCE(SUM(CASE WHEN eval_novelty
                            < {_Q386_MIN_NOVELTY} THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS viol_novelty,
                   CAST(COALESCE(SUM(CASE WHEN heavy_share
                            > {_Q386_MAX_HEAVY} THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS viol_heavy,
                   CAST(COALESCE(SUM(CASE WHEN loss_frac
                            > {_Q386_MAX_LOSS} THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS viol_loss,
                   CAST(COALESCE(SUM(CASE WHEN abs(retrieval_bias)
                            > {_Q386_MAX_BIAS} THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS viol_bias
            FROM ds_in
        ),
        lk AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_splits,
                   CAST(COALESCE(SUM(CASE WHEN leak_rate
                            > {_Q386_MAX_LEAK} THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS viol_leak
            FROM lk_in
        ),
        ch AS (
            SELECT CAST(COALESCE(SUM(CASE WHEN size_bucket IN ('5-9', '10+')
                            AND min_density < {_Q386_MIN_DENSITY}
                            THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS viol_chaining
            FROM ch_in
        )
        SELECT n_sources, n_splits, viol_leak, viol_novelty, viol_heavy,
               viol_loss, viol_bias, viol_chaining,
               CAST(viol_leak + viol_novelty + viol_heavy + viol_loss
                    + viol_bias + viol_chaining AS BIGINT) AS n_violations,
               CASE WHEN viol_leak + viol_novelty + viol_heavy + viol_loss
                         + viol_bias + viol_chaining = 0
                         AND n_sources > 0 AND n_splits > 0
                    THEN 'RELEASE' ELSE 'HOLD' END AS verdict
        FROM ds, lk, ch
    """


@query("q386_release_gate", oracle=_q386_oracle())
def q386_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The datasheet made to GATE (VERDICT r10 #7): q381 reports,
    q379 quantifies leakage, q365 flags chaining — this one-row
    verdict applies explicit release thresholds to all three and
    fails CLOSED: empty inputs (a missing datasheet or a vanished
    split universe) are a HOLD, not a silent pass, because a release
    review that sees zero rows has verified nothing. Per check: the
    count of violating rows (splits over the leak budget, sources
    under the novelty floor / over the heavy-repetition, truncation
    or retrieval-bias budgets, 5+-member dup clusters thinner than
    the chaining floor), their total, and the RELEASE/HOLD verdict.
    Every input is a REGISTERED query's own relation (the q334/q381
    composition discipline), so the gate cannot drift from the
    audits it enforces; the planted-violation tests flip one knob per
    input relation through the kwarg surface (the remaining knobs
    share the same CASE rollup verbatim) and assert the verdict
    turns.

    Scale shape: three bounded rollups (sources-count, 2 splits,
    cluster-bucket rows) crossed as broadcast 1-row relations — the
    gate itself costs nothing beyond the lanes it reads."""
    return release_gate(spark, sf_dir)


# ---------------------------------------------------------------------------
# q387 — skew-hardened chunk banding: salted two-phase band join
# ---------------------------------------------------------------------------

_Q387_SALTS = 8  # salt groups a hot bucket is split into
_Q387_HOT = 32  # bucket size above which the salted path takes over


def salted_band_candidates(
    bands: DataFrame,
    *,
    salt_groups: int = _Q387_SALTS,
    hot_threshold: int = _Q387_HOT,
) -> DataFrame:
    """Candidate pairs from the LSH band buckets with HOT buckets
    salt-split — q330's band equi-join made boilerplate-proof. A
    boilerplate paragraph puts every copy's chunk into ONE
    (band, bh) bucket; the plain self-join then lands that bucket's
    quadratic pair count on a single reducer. Two phases (the q357
    decomposition argument): a bucket-size rollup finds the hot keys
    (a bounded, broadcastable set — boilerplate clusters, not the
    corpus); cold buckets join exactly as before; hot-bucket rows are
    salt-partitioned deterministically and the A side is replicated
    once per target salt, so the join key becomes (band, bh,
    target_salt = B's salt) and each hot bucket spreads over
    salt_groups**2 reducer keys with (n/g)-sized inputs. Every
    co-bucketed ordered pair appears EXACTLY once (cold: trivially;
    hot: the single A-replica whose target salt equals B's salt), so
    the output is identical to the plain join — q387 registers with
    q330's own oracle and the planted-skew gate asserts equality on a
    100x-median hot band. Salts never reach the output, so the salt
    function only shapes partitioning, never results."""
    spark = bands.sparkSession
    sizes = bands.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("__n")
    )
    hot = sizes.filter(F.col("__n") > hot_threshold).select("band", "bh")
    cold = bands.join(F.broadcast(hot), ["band", "bh"], "left_anti")
    hotr = bands.join(F.broadcast(hot), ["band", "bh"], "left_semi")

    def side(df: DataFrame, suf: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(f"doc_{suf}"),
            F.col("chunk_idx").alias(f"chunk_{suf}"),
            "band",
            "bh",
        )

    pair_cols = ["doc_a", "chunk_a", "doc_b", "chunk_b"]
    cold_pairs = (
        side(cold, "a")
        .join(side(cold, "b"), ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(*pair_cols)
    )
    salt = F.pmod(
        F.col("doc_id") * F.lit(31) + F.col("chunk_idx"),
        F.lit(salt_groups),
    ).cast("int")
    ha = hotr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("chunk_idx").alias("chunk_a"),
        "band",
        "bh",
    )
    grid = spark.range(salt_groups).select(
        F.col("id").cast("int").alias("__tsalt")
    )
    hb = hotr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("chunk_idx").alias("chunk_b"),
        F.col("band").alias("__bband"),
        F.col("bh").alias("__bbh"),
        salt.alias("__bsalt"),
    )
    hot_pairs = (
        ha.crossJoin(F.broadcast(grid))
        .join(
            hb,
            (F.col("band") == F.col("__bband"))
            & (F.col("bh") == F.col("__bbh"))
            & (F.col("__tsalt") == F.col("__bsalt")),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(*pair_cols)
    )
    return (
        cold_pairs.unionAll(hot_pairs)
        .groupBy(*pair_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


def _q387_register() -> None:
    from databricks_etl_spark.plans.queries_round9 import _q330_oracle

    @query("q387_salted_chunk_banding", oracle=_q330_oracle())
    def q387_salted_chunk_banding(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """q330's chunk MinHash banding with the skew-hardened
        candidate join (VERDICT r10 #3): identical signatures,
        identical bands, identical scoring — only the band self-join
        is replaced by :func:`salted_band_candidates`' two-phase
        (size rollup -> broadcast hot set -> salted hot join) form.
        Registers with q330's OWN oracle, so the driver hash-checks
        that salting changed nothing but the shuffle: at 100 TB a
        boilerplate-heavy corpus skews the (band, band_hash) key by
        orders of magnitude, and this is the plan that survives it
        (the planted 100x-median gate in tests/test_round11.py times
        both forms and asserts pair-for-pair equality)."""
        from databricks_etl_spark.plans.queries_round9 import (
            _q330_score,
            _q330_sig_bands,
        )

        sig, bands = _q330_sig_bands(spark, sf_dir)
        # the salted form consumes bands five ways (size rollup, cold
        # anti, hot semi, two join sides) and sig twice (scoring); the
        # q353 lesson: materialize multi-consumer relations once
        sig = sig.localCheckpoint(eager=False)
        bands = bands.localCheckpoint(eager=False)
        return _q330_score(salted_band_candidates(bands), sig)


_q387_register()


# ---------------------------------------------------------------------------
# q388 — sampled-truth IVF probe sweep (the bench-able q341 twin)
# ---------------------------------------------------------------------------

# q255's portable deterministic slice discipline at chunk grain, cut
# to ~1/8 (first hex char of md5("doc_id:chunk_idx") <= '1') so the
# twin headlines at ~2s where q341's exact pass costs 15.6s —
# engine-independent, stable under repartitioning, and uncorrelated
# with cells or similarity.
_Q388_PRED_SQL = (
    "substr(md5(CAST(c.doc_id AS VARCHAR) || ':' || "
    "CAST(c.chunk_idx AS VARCHAR)), 1, 1) <= '1'"
)


def _q388_oracle() -> str:
    from databricks_etl_spark.plans.queries_round10 import _q341_oracle

    return _q341_oracle(sample_pred=_Q388_PRED_SQL)


@query("q388_ivf_probe_sweep_sampled", oracle=_q388_oracle(), bench=True)
def q388_ivf_probe_sweep_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q341's recall-vs-n_probe curve against SAMPLED truth — the
    bench-able twin (VERDICT r10 #4): q341's exact-truth side is the
    whole corpus scored per query (15.6s warm at sf0.1 — an eval
    whose cost IS the baseline), which is why round-10 lanes had no
    probe-sweep regression tracking. The q255 discipline fixes that:
    a deterministic md5 ~1/8 slice of the CHUNK corpus (portable,
    partition-invariant, uncorrelated with cells) cuts the scored
    pass 8x while the curve's semantics are unchanged — truth is exact
    over the sampled candidate set, so the q341 proof still applies
    verbatim (a sampled-truth top-k item is retrieved at probe p iff
    cell_rank <= p), monotonicity holds, and full probe is still
    exactly 1.0 (both re-tested). Shares q341's scored-pass kernel
    and sweep rollup through the sample kwarg (byte-identical at
    default, so the production curve cannot drift from the benched
    one).

    Scale shape: identical to q341 at half the scored rows; at 100 TB
    the slice rate is the knob that buys a fixed eval budget."""
    from databricks_etl_spark.plans.queries_round10 import (
        _q341_sweep,
        _q341_truth,
    )

    sample = (
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("chunk_idx").cast("string"),
                )
            ),
            1,
            1,
        )
        <= "1"
    )
    return _q341_sweep(_q341_truth(spark, sf_dir, sample=sample))


# ---------------------------------------------------------------------------
# q389 — merge-depth compression curve: how many merges buy what
# ---------------------------------------------------------------------------

_Q389_DEPTHS = (0, 2, 5, _Q382_K)  # merge depths probed; 0 = characters


def _q389_oracle() -> str:
    levels = "\n            UNION ALL\n".join(
        f"            SELECT {d} AS depth,"
        f" SUM(len(syms) * f) AS n_pieces FROM bpe_seg_{d}"
        for d in _Q389_DEPTHS
    )
    return f"""
        WITH RECURSIVE
        {_bpe_chain_sql(_Q382_K)},
        lv AS (
{levels}
        ),
        tot AS (
            SELECT SUM(f) AS nw,
                   SUM(length(w) * f) AS nc
            FROM bpe_words
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(n_pieces AS BIGINT) AS n_pieces,
               round(n_pieces / CAST(nw AS DOUBLE), 6) AS pieces_per_word,
               round(n_pieces / CAST(nc AS DOUBLE), 6)
                   AS compression_vs_chars
        FROM lv, tot
    """


@query("q389_merge_depth_curve", oracle=_q389_oracle())
def q389_merge_depth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many merges is the vocabulary WORTH? The merge-grain
    ablation next to q360's piece-grain one: for merge depths
    {_Q389_DEPTHS}, the corpus token count under the first j learned
    merges (frequency-weighted over the word relation), pieces per
    word, and the compression ratio vs raw characters (depth 0 ==
    1.0 by construction). Each extra merge can only fuse occurrences,
    so n_pieces is non-increasing in depth (tested) — the curve's
    knee is the vocabulary-size decision a tokenizer review reads.

    Costs nothing beyond q382: the learner's per-step segmentations
    are already localCheckpoint'd snapshots (operators/text.bpe_learn
    keeps the references), so each depth row is one bounded
    aggregation over the DISTINCT-word relation — no re-learning, no
    re-segmentation. The oracle aggregates the same unrolled chain's
    bpe_seg_j relations."""
    merges, segs = _learned(spark, sf_dir)
    assert len(segs) > max(_Q389_DEPTHS), "corpus exhausted before k merges"
    tot = segs[0].agg(
        F.sum("f").alias("nw"),
        F.sum(F.length("w") * F.col("f")).alias("nc"),
    )
    levels = [
        segs[dep]
        .agg(F.sum(F.size("syms") * F.col("f")).alias("n_pieces"))
        .select(F.lit(dep).cast("long").alias("depth"), "n_pieces")
        for dep in _Q389_DEPTHS
    ]
    from functools import reduce as _reduce

    lv = _reduce(lambda x, y: x.unionAll(y), levels)
    return lv.crossJoin(F.broadcast(tot)).select(
        "depth",
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.round(F.col("n_pieces") / F.col("nw").cast("double"), 6).alias(
            "pieces_per_word"
        ),
        F.round(F.col("n_pieces") / F.col("nc").cast("double"), 6).alias(
            "compression_vs_chars"
        ),
    )


# ---------------------------------------------------------------------------
# q390 — streaming ANN index maintenance (ingest-time ≡ batch q384)
# ---------------------------------------------------------------------------


@query("q390_streaming_ann_index", oracle=_q384_oracle())
def q390_streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q384's incremental ANN index append maintained AT INGEST — the
    q361/q385 streaming discipline applied to the serving index:
    vector batches arrive as micro-batches, each ``foreachBatch``
    body assigns and encodes ONLY its batch's synthesized delta under
    the frozen quantizers, and — because the per-cell manifest is
    fully associative (counts add, md5-nibble content hashes add) —
    lands just an 8-row PARTIAL manifest per epoch
    (``streaming/annindex.py``). The drain sums the partials and
    combines with the corpus manifest exactly as the batch path does;
    additivity makes the result micro-batch-slicing-invariant, so
    q390 registers with q384's oracle (the from-scratch rebuild) and
    the streaming append is hash-proven byte-equivalent to rebuilding
    the index. This is the cheapest sink of the three streaming
    lanes: state is cells x epochs rows, independent of stream
    length AND of delta size."""
    from databricks_etl_spark.streaming.annindex import (
        run_streaming_ann_index,
    )

    return run_streaming_ann_index(spark, sf_dir)


# ---------------------------------------------------------------------------
# q391 — vocabulary stability under a crawl delta
# ---------------------------------------------------------------------------

_Q391_B = 20_000_000_000  # delta re-identification offset (q363's)


def _q391_delta_docs(d: DataFrame) -> DataFrame:
    """q363's synthesized crawl batch, text grain: every
    doc_id % 7 == 3 document re-arrives — half verbatim, half with its
    vocabulary md5-rewritten (genuinely novel words, the q363
    construction) — which is exactly the input mix that stresses a
    learned vocabulary."""
    from databricks_etl_spark.operators.text import tokens_col

    rewritten = F.array_join(
        F.transform(
            tokens_col("text"), lambda t: F.substring(F.md5(t), 1, 8)
        ),
        " ",
    )
    return d.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + _Q391_B).alias("doc_id"),
        F.when(F.col("doc_id") % 14 == 3, F.col("text"))
        .otherwise(rewritten)
        .alias("text"),
    )


def _q391_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    return f"""
        WITH RECURSIVE
        aug AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_Q391_B},
                   CASE WHEN doc_id % 14 = 3 THEN text
                        ELSE array_to_string(list_transform({_TOKS},
                            t -> substr(md5(t), 1, 8)), ' ')
                   END
            FROM documents WHERE doc_id % 7 = 3
        ),
        {_bpe_chain_sql(_Q382_K)},
        {_bpe_chain_sql(_Q382_K, prefix="bpd", src="aug")}
        SELECT b.step,
               b.l AS base_left, b.r AS base_right, b.cnt AS base_count,
               d.l AS delta_left, d.r AS delta_right, d.cnt AS delta_count,
               CAST(CASE WHEN b.l = d.l AND b.r = d.r
                         THEN 1 ELSE 0 END AS BIGINT) AS step_agree,
               CAST((SELECT MIN(CASE WHEN b2.l = d2.l AND b2.r = d2.r
                                     THEN 1 ELSE 0 END)
                     FROM bpe_merges b2 JOIN bpd_merges d2 USING (step)
                     WHERE b2.step <= b.step) AS BIGINT) AS prefix_agree
        FROM bpe_merges b JOIN bpd_merges d USING (step)
    """


@query("q391_vocab_stability_delta", oracle=_q391_oracle())
def q391_vocab_stability_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the learned vocabulary SURVIVE the next crawl batch? The
    q382 learner run twice — on the corpus, and on corpus ∪ the q363
    delta (half verbatim re-crawls, half vocabulary-rewritten novel
    text) — with the merge tables aligned step by step: per step both
    runs' chosen pairs and weighted counts, whether they agree, and
    whether the tables still agree as a PREFIX up to that step. The
    longest agreeing prefix is the actionable number: merges inside it
    are stable under the crawl (retraining would reproduce them —
    tokenizer artifacts keyed on them stay valid); the first
    divergence step is where q384's frozen-quantizer argument for the
    TOKENIZER breaks and a re-train decision starts. Verbatim
    re-crawls only scale counts (stability); the rewritten half
    injects an alien character distribution (md5 hex) that competes
    for merges — exactly the drift this lane exists to quantify.

    Scale shape: two bounded fixed-point runs (each the q382 shape —
    corpus-sized word count once, then vocabulary-bounded pure aggs);
    the alignment is a k-row join. Oracle: BOTH unrolled chains in
    one statement via the chain builder's prefix/src hooks
    (byte-identical at defaults — q382/q383/q389 re-proven)."""
    base, _ = _learned(spark, sf_dir)
    aug, _ = _learned(spark, sf_dir, variant="aug")
    rows = []
    prefix = 1
    for (sb, bl, br, _, bc), (sd, dl, dr, _, dc) in zip(base, aug):
        assert sb == sd
        agree = 1 if (bl, br) == (dl, dr) else 0
        prefix = prefix and agree
        rows.append((sb, bl, br, bc, dl, dr, dc, agree, prefix))
    return spark.createDataFrame(
        rows,
        "step long, base_left string, base_right string, base_count long, "
        "delta_left string, delta_right string, delta_count long, "
        "step_agree long, prefix_agree long",
    )


# ---------------------------------------------------------------------------
# q392 — sequence packing re-based on LEARNED-vocab lengths
# ---------------------------------------------------------------------------


def _q392_learned_lens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword token counts under the q382-learned vocabulary
    (the q383 construction at doc grain): every DISTINCT word
    tokenizes once through the production greedy kernel with the
    learned blocks, counts join back to the exploded stream, docs
    with no words report 0."""
    from databricks_etl_spark.operators.text import (
        bpe_vocab_blocks,
        subword_piece_stats,
        tokens_col,
    )

    d = read_table(spark, sf_dir, "documents")
    v4, v3, v2 = bpe_vocab_blocks(_learned(spark, sf_dir)[0])
    tok = d.select("doc_id", F.explode(tokens_col("text")).alias("w")).filter(
        F.length("w") >= 1
    )
    wc = (
        tok.select("w")
        .distinct()
        .select(
            "w",
            subword_piece_stats(F.col("w"), v4=v4, v3=v3, v2=v2)
            .getField("cnt")
            .alias("pieces"),
        )
    )
    per = (
        tok.join(wc, "w")
        .groupBy("doc_id")
        .agg(F.sum("pieces").cast("long").alias("len"))
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id", F.coalesce("len", F.lit(0)).cast("long").alias("len")
    )


def _q392_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import (
        _Q313_B,
        _Q313_P,
        _ffd_oracle,
    )

    # the q383 chain (learner + learned-vocab consumption recursion),
    # rolled to doc grain and nested as the FFD oracle's items input
    items = f"""
        WITH RECURSIVE
        {_bpe_chain_sql(_Q382_K)},
        lv4 AS MATERIALIZED (
            SELECT DISTINCT l || r AS p FROM bpe_merges
            WHERE length(l || r) = 4
        ),
        lv3 AS MATERIALIZED (
            SELECT DISTINCT l || r AS p FROM bpe_merges
            WHERE length(l || r) = 3
        ),
        lv2 AS MATERIALIZED (
            SELECT DISTINCT l || r AS p FROM bpe_merges
            WHERE length(l || r) = 2
        ),
        tk AS (
            SELECT w, 1 AS pos, 0 AS cnt FROM bpe_words
            UNION ALL
            SELECT t.w,
                   t.pos + CASE WHEN v4.p IS NOT NULL THEN 4
                                WHEN v3.p IS NOT NULL THEN 3
                                WHEN v2.p IS NOT NULL THEN 2
                                ELSE 1 END,
                   t.cnt + 1
            FROM tk t
            LEFT JOIN lv4 v4 ON v4.p = substr(t.w, t.pos, 4)
            LEFT JOIN lv3 v3 ON v3.p = substr(t.w, t.pos, 3)
            LEFT JOIN lv2 v2 ON v2.p = substr(t.w, t.pos, 2)
            WHERE t.pos <= length(t.w)
        ),
        wc AS (SELECT w, cnt FROM tk WHERE pos > length(w)),
        dl AS (
            SELECT d.doc_id,
                   CAST(COALESCE(SUM(wc.cnt), 0) AS BIGINT) AS len
            FROM documents d
            LEFT JOIN bpe_vt v ON d.doc_id = v.doc_id
            LEFT JOIN wc ON v.w = wc.w
            GROUP BY 1
        )
        SELECT doc_id, len FROM dl
    """
    return _ffd_oracle(items, _Q313_B, _Q313_P)


@query("q392_learned_vocab_packing", oracle=_q392_oracle())
def q392_learned_vocab_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q329's re-based packing taken one stage further up the learn
    chain: q313 packs whitespace counts, q329 packs subword counts
    under the GIVEN vocabulary — this packs under the vocabulary the
    corpus itself LEARNED (q382 -> q383's tokenizer), which is the
    plan a pipeline that trains its own tokenizer actually ships.
    Identical FFD machinery, placement order and budget through the
    same ``ffd_pack`` operator and the same parameterized
    recursive-CTE oracle; only the length source changes — the
    packing lane stays length-source-agnostic while the length source
    is now itself corpus-derived end to end.

    Scale shape: the learner's bounded fixed point (q382), the q328
    distinct-word tokenize/join-back shuffle, then q313's per-shard
    FFD (no global fold). The oracle nests the full learned-vocab
    chain as the FFD oracle's items input — one statement, both
    stages hash-checked together."""
    from databricks_etl_spark.operators.packing import ffd_pack
    from databricks_etl_spark.plans.queries_round8 import _Q313_B, _Q313_P

    return ffd_pack(_q392_learned_lens(spark, sf_dir), _Q313_B, _Q313_P)


# ---------------------------------------------------------------------------
# q393 — tokenizer release datasheet (the q381 discipline for the tokenizer)
# ---------------------------------------------------------------------------


def _q393_oracle() -> str:
    o382 = QUERIES["q382_bpe_merge_induction"].oracle
    o383 = QUERIES["q383_learned_vocab_fertility"].oracle
    o389 = QUERIES["q389_merge_depth_curve"].oracle
    o391 = QUERIES["q391_vocab_stability_delta"].oracle
    return f"""
        WITH m AS MATERIALIZED (SELECT * FROM ({o382})),
        f AS MATERIALIZED (SELECT * FROM ({o383})),
        dc AS MATERIALIZED (SELECT * FROM ({o389})),
        s AS MATERIALIZED (SELECT * FROM ({o391}))
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_merges,
               (SELECT CAST(COUNT(DISTINCT merged) AS BIGINT) FROM m
                WHERE length(merged) = 2) AS n_vocab2,
               (SELECT CAST(COUNT(DISTINCT merged) AS BIGINT) FROM m
                WHERE length(merged) = 3) AS n_vocab3,
               (SELECT CAST(COUNT(DISTINCT merged) AS BIGINT) FROM m
                WHERE length(merged) = 4) AS n_vocab4,
               (SELECT CAST(n_pieces AS BIGINT) FROM dc
                WHERE depth = {_Q382_K}) AS n_pieces_full,
               (SELECT compression_vs_chars FROM dc
                WHERE depth = {_Q382_K}) AS compression_full,
               round((SELECT SUM(n_pieces) FROM f)
                     / CAST((SELECT SUM(n_words) FROM f) AS DOUBLE), 6)
                   AS fertility,
               round((SELECT SUM(n_unk) FROM f)
                     / CAST((SELECT SUM(n_pieces) FROM f) AS DOUBLE), 6)
                   AS unk_rate,
               (SELECT CAST(COALESCE(SUM(prefix_agree), 0) AS BIGINT)
                FROM s) AS stable_prefix
    """


@query("q393_tokenizer_datasheet", oracle=_q393_oracle())
def q393_tokenizer_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer family's release card — q381's datasheet
    discipline applied to the learn chain: merge count and distinct
    learned-vocab sizes by piece width (q382), full-depth corpus
    token count and compression vs characters (q389's deepest row),
    corpus-wide fertility and fallback rate under the learned vocab
    (q383 rolled over sources), and the delta-stability prefix
    length (q391 — how many leading merges survive the next crawl
    batch, the retrain-decision number). Every column is a REGISTERED
    query's own relation, so the card cannot disagree with the lanes
    it cites; this is the one row a tokenizer review reads before
    shipping the artifact q392 packs with.

    Scale shape: four bounded rollups over the composed lanes (each
    lane's own cost — the learner's bounded fixed point dominates),
    crossed as broadcast 1-row relations."""
    m = q382_bpe_merge_induction(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_merges"),
        F.countDistinct(
            F.when(F.length("merged") == 2, F.col("merged"))
        )
        .cast("long")
        .alias("n_vocab2"),
        F.countDistinct(
            F.when(F.length("merged") == 3, F.col("merged"))
        )
        .cast("long")
        .alias("n_vocab3"),
        F.countDistinct(
            F.when(F.length("merged") == 4, F.col("merged"))
        )
        .cast("long")
        .alias("n_vocab4"),
    )
    f = q383_learned_vocab_fertility(spark, sf_dir).agg(
        F.sum("n_pieces").alias("tp"),
        F.sum("n_words").alias("tw"),
        F.sum("n_unk").alias("tu"),
    )
    dc = (
        q389_merge_depth_curve(spark, sf_dir)
        .filter(F.col("depth") == _Q382_K)
        .select(
            F.col("n_pieces").alias("n_pieces_full"),
            F.col("compression_vs_chars").alias("compression_full"),
        )
    )
    s = q391_vocab_stability_delta(spark, sf_dir).agg(
        F.coalesce(F.sum("prefix_agree"), F.lit(0))
        .cast("long")
        .alias("stable_prefix")
    )
    return (
        m.crossJoin(F.broadcast(dc))
        .crossJoin(F.broadcast(f))
        .crossJoin(F.broadcast(s))
        .select(
            "n_merges",
            "n_vocab2",
            "n_vocab3",
            "n_vocab4",
            "n_pieces_full",
            "compression_full",
            F.round(F.col("tp") / F.col("tw").cast("double"), 6).alias(
                "fertility"
            ),
            F.round(F.col("tu") / F.col("tp").cast("double"), 6).alias(
                "unk_rate"
            ),
            "stable_prefix",
        )
    )


# ---------------------------------------------------------------------------
# q394 — vocabulary sensitivity to cleaning (raw corpus vs shipped pool)
# ---------------------------------------------------------------------------


def _q394_oracle() -> str:
    o312 = QUERIES["q312_training_manifest"].oracle
    return f"""
        WITH RECURSIVE
        shp AS MATERIALIZED (
            SELECT d.doc_id, d.text
            FROM documents d
            JOIN (SELECT doc_id FROM ({o312}) WHERE ship) s
              ON d.doc_id = s.doc_id
        ),
        {_bpe_chain_sql(_Q382_K)},
        {_bpe_chain_sql(_Q382_K, prefix="bps", src="shp")}
        SELECT b.step,
               b.l AS raw_left, b.r AS raw_right, b.cnt AS raw_count,
               c.l AS clean_left, c.r AS clean_right, c.cnt AS clean_count,
               CAST(CASE WHEN b.l = c.l AND b.r = c.r
                         THEN 1 ELSE 0 END AS BIGINT) AS step_agree,
               CAST((SELECT MIN(CASE WHEN b2.l = c2.l AND b2.r = c2.r
                                     THEN 1 ELSE 0 END)
                     FROM bpe_merges b2 JOIN bps_merges c2 USING (step)
                     WHERE b2.step <= b.step) AS BIGINT) AS prefix_agree
        FROM bpe_merges b JOIN bps_merges c USING (step)
    """


@query("q394_vocab_cleaning_sensitivity", oracle=_q394_oracle())
def q394_vocab_cleaning_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does CLEANING change the vocabulary? The q391 alignment shape
    pointed at the other input knob: the q382 learner run on the raw
    corpus and on the SHIPPED pool (q312's dedup + decontamination +
    quality survivors — the docs training actually sees), merge
    tables step-aligned with per-step agreement and the running
    prefix flag. If the tokenizer is trained before cleaning (the
    common ops mistake — vocab jobs read the lake, training reads the
    pool), the disagreement tail is the bias the artifact bakes in:
    merges earned by boilerplate and near-dup mass that the pipeline
    then deletes. A long agreeing prefix certifies train-time and
    clean-time vocabularies compatible; the first divergence step
    says where to stop trusting a lake-trained artifact.

    Scale shape: two bounded fixed-point runs (the shipped side
    filtered by one doc_id-keyed semi-join before the word count);
    alignment is a k-row join. Both runs come from the family's
    session cache, so the datasheet-family cost still pays each
    learner once."""
    raw, _ = _learned(spark, sf_dir)
    clean, _ = _learned(spark, sf_dir, variant="shipped")
    rows = []
    prefix = 1
    for (sb, bl, br, _m, bc), (sc, cl, cr, _n, cc) in zip(raw, clean):
        assert sb == sc
        agree = 1 if (bl, br) == (cl, cr) else 0
        prefix = prefix and agree
        rows.append((sb, bl, br, bc, cl, cr, cc, agree, prefix))
    return spark.createDataFrame(
        rows,
        "step long, raw_left string, raw_right string, raw_count long, "
        "clean_left string, clean_right string, clean_count long, "
        "step_agree long, prefix_agree long",
    )


# ---------------------------------------------------------------------------
# q395 — tokenizer release gate (fail-closed, the q386 pattern)
# ---------------------------------------------------------------------------

# Thresholds calibrated to pass on the shipped corpus at every local SF
# (observed: fertility 3.60/3.61, unk 0.786/0.787, compression 0.800,
# stable prefix 10/7 of 10) with honest headroom — a boilerplate-skewed
# vocabulary (fertility or compression blow-up), a dead vocabulary
# (everything fallback), or a crawl-unstable merge table flips it.
_Q395_MIN_MERGES = _Q382_K  # learner must run to full depth
_Q395_MAX_FERTILITY = 6.0  # pieces per word ceiling
_Q395_MAX_UNK = 0.95  # fallback-share ceiling
_Q395_MAX_COMPRESSION = 0.95  # learned vocab must actually compress
_Q395_MIN_STABLE = 3  # leading merges that must survive the delta


def tokenizer_gate(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_merges: int = _Q395_MIN_MERGES,
    max_fertility: float = _Q395_MAX_FERTILITY,
    max_unk: float = _Q395_MAX_UNK,
    max_compression: float = _Q395_MAX_COMPRESSION,
    min_stable: int = _Q395_MIN_STABLE,
) -> DataFrame:
    """The q395 verdict kernel with thresholds as kwargs (the q386
    discipline: defaults are the registered constants, the planted-
    violation test flips one knob at a time)."""
    ds = q393_tokenizer_datasheet(spark, sf_dir)
    viol = (
        F.when(F.col("n_merges") < min_merges, 1).otherwise(0)
        + F.when(F.col("fertility") > max_fertility, 1).otherwise(0)
        + F.when(F.col("unk_rate") > max_unk, 1).otherwise(0)
        + F.when(F.col("compression_full") > max_compression, 1).otherwise(0)
        + F.when(F.col("stable_prefix") < min_stable, 1).otherwise(0)
    )
    n = F.count(F.lit(1))
    agg = ds.agg(
        n.cast("long").alias("n_cards"),
        F.coalesce(F.sum(viol), F.lit(0)).cast("long").alias("n_violations"),
    )
    return agg.select(
        "n_cards",
        "n_violations",
        F.when(
            (F.col("n_violations") == 0) & (F.col("n_cards") > 0),
            F.lit("RELEASE"),
        )
        .otherwise(F.lit("HOLD"))
        .alias("verdict"),
    )


def _q395_oracle() -> str:
    o393 = QUERIES["q393_tokenizer_datasheet"].oracle
    return f"""
        WITH card AS MATERIALIZED (SELECT * FROM ({o393})),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cards,
                   CAST(COALESCE(SUM(
                       (CASE WHEN n_merges < {_Q395_MIN_MERGES}
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN fertility > {_Q395_MAX_FERTILITY}
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN unk_rate > {_Q395_MAX_UNK}
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN compression_full > {_Q395_MAX_COMPRESSION}
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN stable_prefix < {_Q395_MIN_STABLE}
                             THEN 1 ELSE 0 END)
                   ), 0) AS BIGINT) AS n_violations
            FROM card
        )
        SELECT n_cards, n_violations,
               CASE WHEN n_violations = 0 AND n_cards > 0
                    THEN 'RELEASE' ELSE 'HOLD' END AS verdict
        FROM agg
    """


@query("q395_tokenizer_gate", oracle=_q395_oracle())
def q395_tokenizer_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer datasheet made to GATE — q386's fail-closed
    pattern completing the learn → audit → gate arc: explicit
    thresholds over q393's card (learner depth, fertility and
    fallback ceilings, a real-compression requirement, and a
    crawl-stability floor from q391), one RELEASE/HOLD row, empty
    card = HOLD. A tokenizer review now has the same shape as the
    data release review: every number's provenance one registered
    query away, every budget explicit, and a planted violation flips
    the verdict (tested through the kwarg surface).

    Scale shape: one bounded rollup over a 1-row relation — the gate
    costs nothing beyond the card, and the card rides the family's
    shared learner run."""
    return tokenizer_gate(spark, sf_dir)


# ---------------------------------------------------------------------------
# q396 — graded nDCG@10 probe sweep: the ranking-QUALITY curve
# ---------------------------------------------------------------------------

_Q396_TOPN = 20  # graded prefix of the exact ranking (3/2/1 bands)
_Q396_AT = 10  # nDCG cutoff


def _q396_table() -> tuple[list[str], str]:
    """The 30-entry DCG contribution table and the IDCG constant, as
    exact 9-dp decimal STRINGS computed once in Python — gain(grade) *
    discount(position) for grade in {1,2,3} x position in 1..10, with
    gain = 2^g - 1 and discount = 1/log2(pos+1). Embedding the table
    as literals on BOTH engines removes every runtime transcendental
    from the lane: neither Spark nor DuckDB evaluates a log, so the
    hash cannot flake on libm differences. IDCG is the decimal sum of
    the ideal prefix's own table entries (grades 3,3,3,2,...,2), which
    makes full-probe nDCG EXACTLY 1.000000 by construction."""
    import math
    from decimal import Decimal

    q9 = Decimal("1.000000000")
    tab = [
        str(
            Decimal(
                str(round((2**g - 1) / math.log2(p + 1), 9))
            ).quantize(q9)
        )
        for g in (1, 2, 3)
        for p in range(1, _Q396_AT + 1)
    ]
    ideal = [3] * 3 + [2] * (_Q396_AT - 3)
    idcg = sum(
        Decimal(tab[(g - 1) * _Q396_AT + i]) for i, g in enumerate(ideal)
    )
    return tab, str(idcg)


_Q396_TAB, _Q396_IDCG = _q396_table()
_Q396_GRADE_SQL = (
    "CASE WHEN rk <= 3 THEN 3 WHEN rk <= 10 THEN 2 ELSE 1 END"
)


def _q396_oracle(sample_pred: str = "") -> str:
    """q396's oracle; ``sample_pred`` restricts the scored corpus for
    the bench-able sampled-truth twin (q406) — empty default is
    byte-identical."""
    from databricks_etl_spark.plans.queries_round10 import (
        _Q341_PROBES,
        _q341_truth_sql,
    )

    lits = ", ".join(f"CAST('{c}' AS DECIMAL(18,9))" for c in _Q396_TAB)
    probes = ", ".join(str(p) for p in _Q341_PROBES)
    return f"""{_q341_truth_sql(sample_pred, topk=_Q396_TOPN)},
        pr AS (SELECT CAST(unnest([{probes}]) AS INTEGER) AS n_probe),
        px AS (
            SELECT pr.n_probe, t.qid, t.rk, t.cell_rank,
                   SUM(CASE WHEN t.cell_rank <= pr.n_probe
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY pr.n_probe, t.qid
                             ORDER BY t.rk) AS pos
            FROM truth t JOIN pr ON TRUE
        ),
        per AS (
            SELECT n_probe, qid,
                   SUM(CASE WHEN cell_rank <= n_probe
                             AND pos <= {_Q396_AT}
                            THEN ([{lits}])[
                                (({_Q396_GRADE_SQL}) - 1) * {_Q396_AT}
                                + CAST(pos AS INTEGER)]
                            ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg
            FROM px GROUP BY 1, 2
        ),
        pn AS (
            SELECT n_probe, qid,
                   CAST(round(CAST(dcg AS DOUBLE) / {_Q396_IDCG}, 6)
                        AS DECIMAL(18,9)) AS ndcg
            FROM per
        )
        SELECT n_probe,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(ndcg) AS DOUBLE) / COUNT(*), 6)
                   AS mean_ndcg_at_10
        FROM pn GROUP BY 1
    """


@query("q396_ivf_ndcg_sweep", oracle=_q396_oracle())
def q396_ivf_ndcg_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@10 vs n_probe for the q332 IVF index — the metric
    the recall sweep (q341) cannot see: recall@10 counts WHICH truth
    items survive probing, nDCG also scores WHERE the retriever puts
    them. Relevance grades derive from the exact ranking itself
    (global rank 1-3 -> grade 3, 4-10 -> 2, 11-20 -> 1), so the eval
    needs no external labels and the ideal ranking is the exact one —
    the standard graded-relevance protocol when the exact scorer IS
    the ground truth.

    One scored pass covers the whole curve, by the q341 subset
    argument extended to positions: ANN retrieval at n_probe=p ranks
    the candidate subset {{cell_rank <= p}} in the SAME global
    (sim DESC, doc, chunk) order, so a graded item's ANN position is
    just the count of probed items at or above its global rank — a
    running window sum over the depth-{_Q396_TOPN} truth prefix. Two
    invariants are proven and tested: DCG@10 is monotone in n_probe
    (adding a probed cell inserts items that outrank everything they
    displace, a pointwise-&ge; exchange), and full probe is EXACTLY
    1.000000 (IDCG is defined as the decimal sum of the table's own
    ideal prefix). Every gain x discount product is a Python-side
    9-dp decimal literal on both engines — no runtime logs, no libm
    hash risk (the q255 determinism discipline).

    Scale shape: inherits the q341 scored pass (broadcast query set,
    map-side scoring, no centroid join) plus an O(queries x {_Q396_TOPN}
    x probes) windowed rollup — the curve stays one pass at 100 TB.
    Reference: no counterpart (reference has no retrieval eval);
    extends SURVEY.md §2.12 ANN eval family (q310/q332/q341/q352)."""
    from pyspark.sql import Window
    from databricks_etl_spark.plans.queries_round10 import (
        _Q341_PROBES,
        _q341_truth,
    )

    return _q396_sweep(_q341_truth(spark, sf_dir, topk=_Q396_TOPN))


def _q396_sweep(truth: DataFrame) -> DataFrame:
    """The graded-nDCG rollup over a depth-{_Q396_TOPN} (qid, rk,
    cell_rank) truth relation — shared by q396 and the sampled-truth
    bench twin (q406)."""
    from pyspark.sql import Window

    from databricks_etl_spark.plans.queries_round10 import _Q341_PROBES

    probed = truth.select(
        "qid",
        "rk",
        "cell_rank",
        F.explode(
            F.array(*[F.lit(p) for p in _Q341_PROBES])
        ).alias("n_probe"),
    )
    w = Window.partitionBy("n_probe", "qid").orderBy("rk")
    px = probed.withColumn(
        "pos",
        F.sum(
            F.when(F.col("cell_rank") <= F.col("n_probe"), 1).otherwise(0)
        ).over(w),
    )
    tab = F.array(*[F.lit(c) for c in _Q396_TAB])
    grade = (
        F.when(F.col("rk") <= 3, 3)
        .when(F.col("rk") <= 10, 2)
        .otherwise(1)
    )
    contrib = F.when(
        (F.col("cell_rank") <= F.col("n_probe"))
        & (F.col("pos") <= _Q396_AT),
        F.element_at(
            tab, ((grade - 1) * _Q396_AT + F.col("pos")).cast("int")
        ).cast("decimal(18,9)"),
    ).otherwise(F.lit("0").cast("decimal(18,9)"))
    per = px.groupBy("n_probe", "qid").agg(F.sum(contrib).alias("dcg"))
    pn = per.select(
        "n_probe",
        "qid",
        F.round(F.col("dcg").cast("double") / float(_Q396_IDCG), 6)
        .cast("decimal(18,9)")
        .alias("ndcg"),
    )
    n = F.count(F.lit(1))
    return pn.groupBy("n_probe").agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("ndcg").cast("double") / n, 6).alias(
            "mean_ndcg_at_10"
        ),
    )


# ---------------------------------------------------------------------------
# q397 — quality-policy survivor election over near-dup clusters
# ---------------------------------------------------------------------------


def _q397_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05
    from databricks_etl_spark.plans.queries_round7 import _quality_sql

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        {_quality_sql()},
        m AS (
            SELECT cc.id AS doc_id, cc.component, q.quality_score
            FROM cc JOIN q ON cc.id = q.doc_id
        ),
        r AS (
            SELECT doc_id, component, quality_score,
                   row_number() OVER (PARTITION BY component
                       ORDER BY quality_score DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY component) AS cluster_size
            FROM m
        ),
        k AS (
            SELECT component, doc_id AS kept_doc_id,
                   quality_score AS kq
            FROM r WHERE rn = 1
        )
        SELECT r.doc_id,
               CAST(r.component AS BIGINT) AS cluster_id,
               CAST(r.cluster_size AS BIGINT) AS cluster_size,
               (r.rn = 1) AS is_kept,
               k.kept_doc_id,
               round(r.quality_score, 6) AS quality_score,
               round(k.kq - r.quality_score, 6) AS quality_gap
        FROM r JOIN k USING (component)
    """


@query("q397_quality_survivor_election", oracle=_q397_oracle())
def q397_quality_survivor_election(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivor election as a POLICY, not an accident of ids: q124
    keeps each near-dup cluster's MIN doc_id (the label the component
    algorithm happens to propagate); a production dedup keeps the
    BEST member — this lane elects per cluster by (quality_score
    DESC, doc_id ASC) over q258's composite quality score and emits
    the full decision record per clustered doc: its cluster, the
    elected survivor, whether it survived, and the quality gap it
    loses if dropped (>= 0 by election, == 0 for the survivor — both
    planted in tests). Clusters are q123's connected components over
    the same df-capped unigram-Jaccard pairs, so the three dedup
    lanes (q123 clusters / q124 id-policy / q397 quality-policy)
    share one pair build and can be diffed row-for-row.

    Determinism: q258's score is an exact sum of 0.25 quarters —
    double compare and subtraction are exact, the (score, doc_id)
    order is total, and the recursive-CTE oracle elects with the
    identical ORDER BY.

    Scale shape: the inverted-index pair build dominates (df-capped
    posting lists, no all-pairs); election adds one window per
    component (bounded by cluster size) and a cluster-keyed join of
    members to their 1-row-per-cluster survivor relation. 100 TB:
    identical to q123 plus O(clustered docs) windowed work.
    Reference: pre_process.py's dedup keeps ROW_NUMBER()=1 per key —
    this is that discipline lifted to non-transitive near-dup groups
    with an explicit quality policy."""
    from pyspark.sql import Window

    from databricks_etl_spark.operators.text import quality_features
    from databricks_etl_spark.plans.queries_dedup import (
        _neardup_components,
    )

    d = read_table(spark, sf_dir, "documents")
    comps = _neardup_components(spark, sf_dir)
    qf = quality_features(d).select("doc_id", "quality_score")
    m = comps.join(qf, comps["id"] == qf["doc_id"]).select(
        qf["doc_id"], comps["component"], qf["quality_score"]
    )
    w = Window.partitionBy("component")
    r = m.select(
        "doc_id",
        "component",
        "quality_score",
        F.row_number()
        .over(w.orderBy(F.desc("quality_score"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
    k = r.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("quality_score").alias("__kq"),
    )
    return r.join(k, "component").select(
        "doc_id",
        F.col("component").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("rn") == 1).alias("is_kept"),
        "kept_doc_id",
        F.round("quality_score", 6).alias("quality_score"),
        F.round(F.col("__kq") - F.col("quality_score"), 6).alias(
            "quality_gap"
        ),
    )


# ---------------------------------------------------------------------------
# q398 — token-budget water-filling across sources
# ---------------------------------------------------------------------------

_Q398_WSCALE = 1_000_000  # weight quantization: w = floor(sqrt(cap)*1e6)


def _q398_alloc_sql(
    src: str = "documents",
    cap_body: str | None = None,
    budget_body: str | None = None,
) -> str:
    """The water-filling allocation as a CTE chain over a generic doc
    relation ``src`` (doc_id, text, source) ending in the final
    SELECT — shared verbatim by q398 (raw corpus), q400 (the shipped
    pool), q403 (pre-tokenized pool via ``cap_body``, an override for
    the capacity CTE body) and q409 (residual fill via
    ``budget_body``, an override for the 1-row budget CTE body); the
    defaults are byte-identical to q398's original oracle."""
    from databricks_etl_spark.plans.queries_text import _TOKS

    if cap_body is None:
        cap_body = f"""SELECT source,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS cap_tokens
            FROM {src} GROUP BY 1"""
    if budget_body is None:
        budget_body = """SELECT CAST(SUM(cap_tokens) AS BIGINT) // 2
                AS budget
            FROM wt"""
    return f"""cap AS (
            {cap_body}
        ),
        wt AS (
            SELECT source, cap_tokens,
                   CAST(floor(sqrt(CAST(cap_tokens AS DOUBLE))
                              * {_Q398_WSCALE}) AS BIGINT) AS weight
            FROM cap
        ),
        tot AS (
            {budget_body}
        ),
        srt AS (
            SELECT source, cap_tokens, weight,
                   SUM(cap_tokens) OVER w
                       - cap_tokens AS cap_before,
                   SUM(weight) OVER (
                       ORDER BY CAST(cap_tokens AS DOUBLE) / weight, source
                       ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS w_from_here
            FROM wt
            WINDOW w AS (
                ORDER BY CAST(cap_tokens AS DOUBLE) / weight, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        flg AS (
            SELECT *,
                   ((tot.budget - cap_before) * weight
                    >= cap_tokens * w_from_here) AS saturated
            FROM srt, tot
        ),
        lvl AS (
            SELECT COALESCE(SUM(CASE WHEN saturated
                                     THEN cap_tokens END), 0) AS c_sat,
                   COALESCE(SUM(CASE WHEN NOT saturated
                                     THEN weight END), 0) AS w_unsat
            FROM flg
        )
        SELECT f.source, f.cap_tokens, f.weight, f.saturated,
               CAST(CASE WHEN f.saturated THEN f.cap_tokens
                         ELSE (tot.budget - lvl.c_sat) * f.weight
                              // lvl.w_unsat END AS BIGINT)
                   AS alloc_tokens,
               CASE WHEN tot.budget > 0 THEN
                   round(CAST(CASE WHEN f.saturated THEN f.cap_tokens
                                   ELSE (tot.budget - lvl.c_sat) * f.weight
                                        // lvl.w_unsat END AS DOUBLE)
                         / tot.budget, 6) END AS budget_share
        FROM flg f, tot, lvl"""


def _q398_oracle() -> str:
    return f"""
        WITH {_q398_alloc_sql()}
    """


@query("q398_token_budget_waterfill", oracle=_q398_oracle())
def q398_token_budget_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capacity-capped token-budget allocation across sources — the
    knob BETWEEN the mixture lanes (q342/q378 weight what was
    sampled) and the samplers: given per-source token capacities
    cap_s, temperature weights w_s ~ sqrt(cap_s) (tau=0.5 multinomial
    upweighting of small sources), and a global budget B = half the
    corpus, water-filling computes alloc_s = min(cap_s, lambda*w_s)
    with sum(alloc) ~= B — small sources saturate at their capacity,
    the rest split the remainder by weight. Closed form, no
    iteration: sorted by cap/w ascending, the saturated set is a
    PREFIX (if lambda_i < cap_i/w_i then lambda_{i+1} < cap_{i+1}/
    w_{i+1} — the docstringed monotonicity proof), so one windowed
    prefix/suffix-sum pass flags it and one 1-row rollup fixes the
    water level.

    Determinism: weights are INTEGERS (floor(sqrt(cap)*1e6) — sqrt is
    IEEE-correctly-rounded on both engines), the saturation predicate
    is exact integer cross-multiplication (no division), and the
    unsaturated alloc is a single integer floor-division — the only
    runtime doubles are the sort key and the final budget_share
    display ratio. Floor leaves < n_unsat + 1 tokens of the budget
    unallocated (tested).

    Scale shape: one map-combinable per-source token rollup on the
    corpus scan; everything after runs on the #sources-row relation
    (the windows' SinglePartition is over that bounded relation — the
    1-row-metric pattern). 100 TB: the scan dominates; allocation is
    O(#sources log #sources).
    Reference: no counterpart; extends the mixture/sampling family
    (SURVEY.md §2.12)."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    cap = d.groupBy("source").agg(
        F.sum(F.size(tokens_col("text"))).cast("long").alias("cap_tokens")
    )
    return _q398_waterfill(cap)


def _q398_waterfill(
    cap: DataFrame, budget: DataFrame | None = None
) -> DataFrame:
    """The allocation kernel over a (source, cap_tokens) relation —
    shared by q398 (raw corpus) and q400 (shipped pool). ``cap`` and
    the flagged relation each feed MULTIPLE consumers (budget rollup,
    sort windows, water-level rollup, final select) — without the
    localCheckpoints every consumer re-derives the whole upstream
    chain (for q400 that is the full q312 manifest: 244 exchanges
    observed before vs 4 in the post-checkpoint plan, the upstream
    running ONCE as the checkpoint job; both checkpointed relations
    are #sources rows)."""
    from pyspark.sql import Window

    cap = cap.localCheckpoint(eager=False)
    wt = cap.select(
        "source",
        "cap_tokens",
        F.floor(
            F.sqrt(F.col("cap_tokens").cast("double")) * _Q398_WSCALE
        )
        .cast("long")
        .alias("weight"),
    )
    tot = (
        budget
        if budget is not None
        else wt.agg(
            F.expr("CAST(SUM(cap_tokens) AS BIGINT) DIV 2").alias(
                "budget"
            )
        )
    )
    w = Window.orderBy(
        F.col("cap_tokens").cast("double") / F.col("weight"), "source"
    )
    srt = wt.select(
        "source",
        "cap_tokens",
        "weight",
        (
            F.sum("cap_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("cap_tokens")
        ).alias("cap_before"),
        F.sum("weight")
        .over(w.rowsBetween(0, Window.unboundedFollowing))
        .alias("w_from_here"),
    )
    flg = (
        srt.crossJoin(F.broadcast(tot))
        .withColumn(
            "saturated",
            (F.col("budget") - F.col("cap_before")) * F.col("weight")
            >= F.col("cap_tokens") * F.col("w_from_here"),
        )
        .localCheckpoint(eager=False)
    )
    lvl = flg.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("cap_tokens"))),
            F.lit(0),
        ).alias("c_sat"),
        F.coalesce(
            F.sum(F.when(~F.col("saturated"), F.col("weight"))),
            F.lit(0),
        ).alias("w_unsat"),
    )
    alloc = F.when(F.col("saturated"), F.col("cap_tokens")).otherwise(
        F.expr("(budget - c_sat) * weight DIV w_unsat")
    )
    return (
        flg.crossJoin(F.broadcast(lvl))
        .withColumn("alloc_tokens", alloc)
        .select(
            "source",
            "cap_tokens",
            "weight",
            "saturated",
            "alloc_tokens",
            F.when(
                F.col("budget") > 0,
                F.round(
                    F.col("alloc_tokens").cast("double")
                    / F.col("budget"),
                    6,
                ),
            ).alias("budget_share"),
        )
    )


# ---------------------------------------------------------------------------
# q399 — pipeline attrition funnel: what each gate costs, in docs & tokens
# ---------------------------------------------------------------------------

_Q399_STAGES = (
    (0, "raw"),
    (1, "quality"),
    (2, "decontam"),
    (3, "semdedup"),
    (4, "multimodal"),
    (5, "shipped"),
)


def _q399_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    o312 = QUERIES["q312_training_manifest"].oracle
    stages = ", ".join(f"({i}, '{n}')" for i, n in _Q399_STAGES)
    return f"""
        WITH m AS MATERIALIZED (SELECT * FROM ({o312})),
        tok AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS nt
            FROM documents
        ),
        dep AS (
            SELECT m.doc_id, tok.nt,
                   CASE WHEN NOT m.quality_ok THEN 0
                        WHEN m.contaminated THEN 1
                        WHEN m.sem_dup THEN 2
                        WHEN m.multimodal_dup THEN 3
                        WHEN NOT m.drift_gate_ok THEN 4
                        ELSE 5 END AS depth
            FROM m JOIN tok USING (doc_id)
        ),
        st(stage, stage_name) AS (VALUES {stages}),
        per AS (
            SELECT st.stage, st.stage_name,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(dep.nt), 0) AS BIGINT) AS n_tokens
            FROM st LEFT JOIN dep ON dep.depth >= st.stage
            GROUP BY 1, 2
        )
        SELECT stage, stage_name, n_docs, n_tokens,
               COALESCE(lag(n_docs) OVER (ORDER BY stage) - n_docs,
                        0) AS n_dropped_here,
               round(CAST(n_docs AS DOUBLE)
                     / first_value(n_docs) OVER (ORDER BY stage), 6)
                   AS doc_survival,
               round(CAST(n_tokens AS DOUBLE)
                     / first_value(n_tokens) OVER (ORDER BY stage), 6)
                   AS token_survival
        FROM per
    """


@query("q399_attrition_funnel", oracle=_q399_oracle())
def q399_attrition_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-gate attrition funnel of the shipping pipeline — the
    first question a data lead asks of a 100 TB run ("where did my
    tokens go?") answered stage by stage: raw corpus -> quality floor
    -> benchmark decontamination -> SemDeDup prune -> cross-modal
    dedup -> drift circuit breaker == shipped. The stage flags are
    q312's own manifest columns (the composition discipline: this
    lane CALLS the registered manifest, so the funnel cannot drift
    from the gates it narrates), gate order is the manifest's
    documented precedence, and depth-5 survival is exactly q312's
    ``ship`` verdict (asserted in tests). Each row reports surviving
    docs AND tokens, the docs dropped at that specific gate, and
    doc/token survival vs raw — token survival < doc survival means
    the gates preferentially kill LONG documents (a curriculum bias
    worth catching before training).

    Determinism: counts and integer token sums only; the two ratios
    are single divisions of exact integers rounded at 6dp.

    Scale shape: the manifest's component lanes dominate; the funnel
    adds one doc-keyed join to token counts, a 6-row broadcast stage
    relation joined by a >= predicate (each doc touches <= 6 rows),
    and a map-combinable rollup. The final window runs on the 6-row
    relation (the 1-row-metric pattern). 100 TB: component cost,
    funnel ~free.
    Reference: pre_process.py drops rows silently; the funnel is the
    audit trail it never emits."""
    from pyspark.sql import Window

    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )

    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("nt")
    )
    man = q312_training_manifest(spark, sf_dir)
    dep = man.join(tok, "doc_id").select(
        "doc_id",
        "nt",
        F.when(~F.col("quality_ok"), 0)
        .when(F.col("contaminated"), 1)
        .when(F.col("sem_dup"), 2)
        .when(F.col("multimodal_dup"), 3)
        .when(~F.col("drift_gate_ok"), 4)
        .otherwise(5)
        .alias("depth"),
    )
    st = spark.createDataFrame(
        list(_Q399_STAGES), ["stage", "stage_name"]
    )
    per = (
        F.broadcast(st)
        .join(dep, dep["depth"] >= st["stage"], "left")
        .groupBy("stage", "stage_name")
        .agg(
            F.count("doc_id").cast("long").alias("n_docs"),
            F.coalesce(F.sum("nt"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    w = Window.orderBy("stage")
    return per.select(
        "stage",
        "stage_name",
        "n_docs",
        "n_tokens",
        F.coalesce(
            F.lag("n_docs").over(w) - F.col("n_docs"), F.lit(0)
        ).alias("n_dropped_here"),
        F.round(
            F.col("n_docs").cast("double")
            / F.first("n_docs").over(w),
            6,
        ).alias("doc_survival"),
        F.round(
            F.col("n_tokens").cast("double")
            / F.first("n_tokens").over(w),
            6,
        ).alias("token_survival"),
    )


# ---------------------------------------------------------------------------
# q400 — budgeted shipping plan: water-filling over the SHIPPED pool
# ---------------------------------------------------------------------------


def _q400_oracle() -> str:
    o312 = QUERIES["q312_training_manifest"].oracle
    return f"""
        WITH shp AS MATERIALIZED (
            SELECT d.doc_id, d.text, d.source
            FROM documents d
            JOIN (SELECT doc_id FROM ({o312}) WHERE ship) s
              ON d.doc_id = s.doc_id
        ),
        {_q398_alloc_sql(src="shp")}
    """


@query("q400_shipping_plan_waterfill", oracle=_q400_oracle())
def q400_shipping_plan_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q398's allocator pointed at the pool a run would actually
    sample: capacities are per-source token counts over q312's
    SHIPPED documents (post quality/decontam/SemDeDup/multimodal/
    drift gates — the q399 funnel's stage 5), budget is half the
    shipped tokens, weights are the same sqrt-temperature integers.
    This is the end of the planning chain: q399 says what each gate
    cost, q400 says how the surviving budget is split — and because
    gates drop sources unevenly, the plan can differ materially from
    q398's raw-corpus allocation (a source that ships little gets
    its sqrt-upweighting applied to the SMALL capacity, exactly the
    correction a raw-corpus plan would miss). Both the SQL chain and
    the Spark kernel are the q398 code with only the input relation
    swapped (kwarg/shared-kernel discipline, byte-identical at
    default — tested), so the two plans cannot drift in semantics.

    Determinism and scale: identical to q398 (integer
    cross-multiplication saturation, floor-division allocation,
    #sources-row windows); the shipped filter rides q312's manifest,
    whose component lanes dominate the cost."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )

    d = read_table(spark, sf_dir, "documents")
    ship = q312_training_manifest(spark, sf_dir).filter("ship").select(
        "doc_id"
    )
    cap = (
        d.join(ship, "doc_id")
        .groupBy("source")
        .agg(
            F.sum(F.size(tokens_col("text")))
            .cast("long")
            .alias("cap_tokens")
        )
    )
    return _q398_waterfill(cap)


# ---------------------------------------------------------------------------
# q401 — per-source attrition: which sources lose most at which gate
# ---------------------------------------------------------------------------


def _q401_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    o312 = QUERIES["q312_training_manifest"].oracle
    stages = ", ".join(f"({i}, '{n}')" for i, n in _Q399_STAGES)
    return f"""
        WITH m AS MATERIALIZED (SELECT * FROM ({o312})),
        tok AS (
            SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS nt
            FROM documents
        ),
        dep AS (
            SELECT m.doc_id, tok.source, tok.nt,
                   CASE WHEN NOT m.quality_ok THEN 0
                        WHEN m.contaminated THEN 1
                        WHEN m.sem_dup THEN 2
                        WHEN m.multimodal_dup THEN 3
                        WHEN NOT m.drift_gate_ok THEN 4
                        ELSE 5 END AS depth
            FROM m JOIN tok USING (doc_id)
        ),
        st(stage, stage_name) AS (VALUES {stages}),
        base AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_raw,
                   CAST(SUM(nt) AS BIGINT) AS t_raw
            FROM dep GROUP BY 1
        ),
        per AS (
            SELECT b.source, st.stage, st.stage_name,
                   CAST(COUNT(dep.doc_id) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(dep.nt), 0) AS BIGINT) AS n_tokens,
                   b.n_raw, b.t_raw
            FROM base b
            CROSS JOIN st
            LEFT JOIN dep ON dep.source = b.source
                         AND dep.depth >= st.stage
            GROUP BY 1, 2, 3, 6, 7
        )
        SELECT source, stage, stage_name, n_docs, n_tokens,
               round(CAST(n_docs AS DOUBLE) / n_raw, 6) AS doc_survival,
               round(CAST(n_tokens AS DOUBLE) / t_raw, 6)
                   AS token_survival
        FROM per
    """


@query("q401_attrition_by_source", oracle=_q401_oracle())
def q401_attrition_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q399's funnel fanned out BY SOURCE — the attrition-bias audit:
    the corpus-level funnel can look healthy while one source is
    being silently gutted at a single gate (a crawl whose boilerplate
    all lands in one SemDeDup cluster, a source whose docs straddle
    the benchmark). One row per (source, stage) with surviving
    docs/tokens and survival ratios against that source's OWN raw
    counts, so sources of different sizes compare directly; the q399
    row is the doc-weighted rollup of these (reconciliation tested).
    Sources × 6 stages is a bounded relation; every source appears at
    every stage (zero-surviving stages report 0, not a missing row —
    the LEFT JOIN discipline).

    Determinism: integer counts/sums, two exact-integer divisions
    rounded at 6dp. Scale shape: q399's join plan with source carried
    through the doc-keyed join; the rollup keys on (source, stage) —
    map-combinable, no skew (stage fan-out is 6). 100 TB: manifest
    cost dominates, breakdown ~free."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )

    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(tokens_col("text")).cast("long").alias("nt"),
    )
    man = q312_training_manifest(spark, sf_dir)
    # dep feeds the per-source baseline AND the stage join — without
    # materialization each consumer re-derives the full q312 manifest
    # (140 exchanges observed before vs 7 after, the manifest running
    # once as the checkpoint job); the relation is 4 skinny columns
    # per corpus doc
    dep = (
        man.join(tok, "doc_id")
        .select(
            "doc_id",
            "source",
            "nt",
            F.when(~F.col("quality_ok"), 0)
            .when(F.col("contaminated"), 1)
            .when(F.col("sem_dup"), 2)
            .when(F.col("multimodal_dup"), 3)
            .when(~F.col("drift_gate_ok"), 4)
            .otherwise(5)
            .alias("depth"),
        )
        .localCheckpoint(eager=False)
    )
    base = dep.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum("nt").cast("long").alias("t_raw"),
    )
    st = spark.createDataFrame(
        list(_Q399_STAGES), ["stage", "stage_name"]
    )
    per = (
        base.crossJoin(F.broadcast(st))
        .join(
            dep.select(
                F.col("source").alias("__src"), "depth", "doc_id", "nt"
            ),
            (F.col("__src") == F.col("source"))
            & (F.col("depth") >= F.col("stage")),
            "left",
        )
        .groupBy("source", "stage", "stage_name", "n_raw", "t_raw")
        .agg(
            F.count("doc_id").cast("long").alias("n_docs"),
            F.coalesce(F.sum("nt"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    return per.select(
        "source",
        "stage",
        "stage_name",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs").cast("double") / F.col("n_raw"), 6).alias(
            "doc_survival"
        ),
        F.round(
            F.col("n_tokens").cast("double") / F.col("t_raw"), 6
        ).alias("token_survival"),
    )


# ---------------------------------------------------------------------------
# q402 — gate-ablation attribution: which filter is doing the work?
# ---------------------------------------------------------------------------

_Q402_GATES = (
    ("quality", "NOT quality_ok"),
    ("decontam", "contaminated"),
    ("semdedup", "sem_dup"),
    ("multimodal", "multimodal_dup"),
    ("drift", "NOT drift_gate_ok"),
)


def _q402_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    o312 = QUERIES["q312_training_manifest"].oracle
    fails = ", ".join(
        f"CAST({pred} AS INTEGER) AS f_{name}"
        for name, pred in _Q402_GATES
    )
    nf = " + ".join(f"f_{name}" for name, _ in _Q402_GATES)
    arms = "\n            UNION ALL\n".join(
        f"            SELECT '{name}' AS gate, f_{name} AS failed,"
        f" n_fails, nt FROM d"
        for name, _ in _Q402_GATES
    )
    return f"""
        WITH m AS MATERIALIZED (SELECT * FROM ({o312})),
        tok AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS nt
            FROM documents
        ),
        d AS (
            SELECT m.doc_id, tok.nt, {fails}, ({nf}) AS n_fails
            FROM m JOIN tok USING (doc_id)
        ),
        g AS (
{arms}
        )
        SELECT gate,
               CAST(SUM(failed) AS BIGINT) AS n_flagged,
               CAST(SUM(CASE WHEN failed = 1 AND n_fails = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
               CAST(SUM(failed * nt) AS BIGINT) AS flagged_tokens,
               CAST(SUM(CASE WHEN failed = 1 AND n_fails = 1
                             THEN nt ELSE 0 END) AS BIGINT)
                   AS unique_tokens,
               CASE WHEN SUM(failed) > 0
                    THEN round(CAST(SUM(CASE WHEN failed = 1
                                             AND n_fails = 1
                                            THEN 1 ELSE 0 END) AS DOUBLE)
                               / SUM(failed), 6) END AS unique_share
        FROM g GROUP BY 1
    """


@query("q402_gate_ablation_attribution", oracle=_q402_oracle())
def q402_gate_ablation_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate-removal counterfactuals over q312's manifest — the
    question q399's SEQUENTIAL funnel cannot answer: the funnel
    charges each doc to the FIRST gate that catches it, so a later
    gate's true workload is hidden whenever flags overlap. Per gate:
    how many docs (and tokens) it flags at all, and how many it flags
    UNIQUELY — a doc with n_fails == 1 is exactly one the pipeline
    would ship if that single gate were removed, so n_unique IS the
    gate's marginal contribution and n_flagged - n_unique its overlap
    with the others. A gate with large n_flagged but near-zero
    n_unique is redundant (candidate for retirement); one with
    unique_share ~ 1 is load-bearing. Flags come from the registered
    manifest (composition discipline), q399/q402 reconciliation is
    pinned in tests (funnel stage-1..5 drops sum to the distinct
    flagged count, not the sum of n_flagged — that difference IS the
    overlap).

    Determinism: integer counts/sums; the one ratio is NULL-guarded
    and rounded. Scale shape: manifest cost dominates; the 5-way gate
    unpivot is an explode of a 5-entry literal array per doc followed
    by a map-combinable rollup keyed on 5 gate values. 100 TB:
    ~free."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )

    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("nt")
    )
    man = q312_training_manifest(spark, sf_dir)
    fail_cols = {
        "quality": (~F.col("quality_ok")).cast("int"),
        "decontam": F.col("contaminated").cast("int"),
        "semdedup": F.col("sem_dup").cast("int"),
        "multimodal": F.col("multimodal_dup").cast("int"),
        "drift": (~F.col("drift_gate_ok")).cast("int"),
    }
    base = man.join(tok, "doc_id").select(
        "doc_id",
        "nt",
        *[c.alias(f"f_{n}") for n, c in fail_cols.items()],
    )
    nf = sum(
        (F.col(f"f_{n}") for n in fail_cols), F.lit(0)
    ).alias("n_fails")
    dd = base.withColumn("n_fails", nf)
    g = dd.select(
        "nt",
        "n_fails",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("gate"),
                        F.col(f"f_{n}").alias("failed"),
                    )
                    for n in fail_cols
                ]
            )
        ).alias("x"),
    ).select("nt", "n_fails", "x.gate", "x.failed")
    uniq = (F.col("failed") == 1) & (F.col("n_fails") == 1)
    return g.groupBy("gate").agg(
        F.sum("failed").cast("long").alias("n_flagged"),
        F.sum(uniq.cast("int")).cast("long").alias("n_unique"),
        F.sum(F.col("failed") * F.col("nt"))
        .cast("long")
        .alias("flagged_tokens"),
        F.sum(F.when(uniq, F.col("nt")).otherwise(0))
        .cast("long")
        .alias("unique_tokens"),
        F.when(
            F.sum("failed") > 0,
            F.round(
                F.sum(uniq.cast("int")).cast("double") / F.sum("failed"),
                6,
            ),
        ).alias("unique_share"),
    )


# ---------------------------------------------------------------------------
# q403 — plan realization: hash-sample the shipped pool at planned rates
# ---------------------------------------------------------------------------

_Q403_PPM = 1_000_000  # sampling-rate resolution (parts per million)


def _q403_oracle() -> str:
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_sql
    from databricks_etl_spark.plans.queries_text import _TOKS

    o312 = QUERIES["q312_training_manifest"].oracle
    payload = "'alloc:' || CAST(doc_id AS VARCHAR)"
    keep = f"({_md5_mod_sql(payload)} % {_Q403_PPM})"
    cap_body = """SELECT source,
                   CAST(SUM(nt) AS BIGINT) AS cap_tokens
            FROM shp GROUP BY 1"""
    alloc = _q398_alloc_sql(src="shp", cap_body=cap_body)
    return f"""
        WITH shp AS MATERIALIZED (
            SELECT d.doc_id, d.source,
                   CAST(len({_TOKS}) AS BIGINT) AS nt
            FROM documents d
            JOIN (SELECT doc_id FROM ({o312}) WHERE ship) s
              ON d.doc_id = s.doc_id
        ),
        pl AS MATERIALIZED (
            SELECT source, cap_tokens, alloc_tokens,
                   (alloc_tokens * {_Q403_PPM}) // cap_tokens AS rate_ppm
            FROM (
                WITH {alloc}
            )
        ),
        samp AS (
            SELECT s.source, s.nt
            FROM shp s JOIN pl USING (source)
            WHERE {keep} < pl.rate_ppm
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS realized_docs,
                   CAST(SUM(nt) AS BIGINT) AS realized_tokens
            FROM samp GROUP BY 1
        )
        SELECT pl.source, pl.cap_tokens, pl.alloc_tokens, pl.rate_ppm,
               COALESCE(agg.realized_docs, 0) AS realized_docs,
               COALESCE(agg.realized_tokens, 0) AS realized_tokens,
               CASE WHEN pl.alloc_tokens > 0
                    THEN round(CAST(COALESCE(agg.realized_tokens, 0)
                                    - pl.alloc_tokens AS DOUBLE)
                               / pl.alloc_tokens, 6) END AS rel_error
        FROM pl LEFT JOIN agg USING (source)
    """


def _q403_pool_plan(
    spark: SparkSession, sf_dir: str, *, with_text: bool = False
):
    """(shp, pl): the ONE materialized shipped pool (doc_id, source,
    nt[, text]) and its water-fill plan with ppm rates — shared by
    the doc-grain (q403) and chunk-grain (q404) realization lanes so
    the q312 manifest runs once per lane, not per consumer."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round8 import (
        q312_training_manifest,
    )

    d = read_table(spark, sf_dir, "documents")
    ship = q312_training_manifest(spark, sf_dir).filter("ship").select(
        "doc_id"
    )
    cols = ["doc_id", "source"] + (["text"] if with_text else [])
    shp = (
        d.join(ship, "doc_id")
        .select(
            *cols,
            F.size(tokens_col("text")).cast("long").alias("nt"),
        )
        .localCheckpoint(eager=False)
    )
    cap = shp.groupBy("source").agg(
        F.sum("nt").cast("long").alias("cap_tokens")
    )
    pl = _q398_waterfill(cap).select(
        "source",
        "cap_tokens",
        "alloc_tokens",
        F.expr(f"(alloc_tokens * {_Q403_PPM}) DIV cap_tokens").alias(
            "rate_ppm"
        ),
    )
    return shp, pl


def _q403_realized(
    units: DataFrame, pl: DataFrame, unit_alias: str
) -> DataFrame:
    """The realization rollup over sampling ``units`` (source, nt,
    __k — the precomputed md5-ppm draw): keep units with __k below
    the source's rate, report realized counts/tokens vs plan. Shared
    by both grains; also driven directly by the planted grain-effect
    test."""
    samp = units.join(
        F.broadcast(pl.select("source", "rate_ppm")), "source"
    ).filter(F.col("__k") < F.col("rate_ppm"))
    agg = samp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias(unit_alias),
        F.sum("nt").cast("long").alias("realized_tokens"),
    )
    return _q403_report(pl, agg, unit_alias)


def _q403_report(
    pl: DataFrame, agg: DataFrame, unit_alias: str
) -> DataFrame:
    """The plan-vs-realized report join — shared by the batch grains
    and the streaming drain (streaming/planrealize.py), so the
    streaming twin's columns/rounding cannot drift from q403's."""
    return (
        pl.join(agg, "source", "left")
        .select(
            "source",
            "cap_tokens",
            "alloc_tokens",
            "rate_ppm",
            F.coalesce(unit_alias, F.lit(0))
            .cast("long")
            .alias(unit_alias),
            F.coalesce("realized_tokens", F.lit(0))
            .cast("long")
            .alias("realized_tokens"),
            F.when(
                F.col("alloc_tokens") > 0,
                F.round(
                    (
                        F.coalesce("realized_tokens", F.lit(0))
                        - F.col("alloc_tokens")
                    ).cast("double")
                    / F.col("alloc_tokens"),
                    6,
                ),
            ).alias("rel_error"),
        )
    )


@query("q403_plan_realization", oracle=_q403_oracle())
def q403_plan_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The water-fill plan EXECUTED: per-source doc sampling at
    rate_ppm = alloc/cap (q400's shipped-pool allocation, realized
    through the portable md5-mod doc hash — partition-invariant,
    engine-independent, stable under reruns), reporting what the
    hash sample actually delivers against the planned token budget.
    Doc-grain sampling realizes a TOKEN-grain plan only in
    expectation — rel_error is the lane's story: long-doc-heavy
    sources overshoot or undershoot, and a |rel_error| beyond the
    binomial band is the signal to sample at finer grain (chunks) or
    re-level the plan. A saturated source has rate_ppm == 1e6 and
    realizes its capacity EXACTLY (planted test).

    Shares q312's shipped pool with q400 through ONE materialized
    relation and re-derives the allocation through the same
    `_q398_waterfill` kernel, so (source, cap, alloc) is
    row-identical to the registered q400 (tested) while the manifest
    runs once, not twice.

    Determinism: the keep predicate is exact integer arithmetic on
    md5 nibbles (the q344 row-hash discipline); counts/sums integer;
    one NULL-guarded ratio. Scale shape: manifest + one hash-join of
    docs to the #sources-row plan + map-combinable rollup; the
    sample never shuffles doc text. 100 TB: manifest cost dominates;
    sampling is a scan with a per-row hash predicate."""
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_col

    shp, pl = _q403_pool_plan(spark, sf_dir)
    units = shp.withColumn(
        "__k",
        _md5_mod_col(
            F.concat(F.lit("alloc:"), F.col("doc_id").cast("string"))
        )
        % _Q403_PPM,
    )
    return _q403_realized(units, pl, "realized_docs")


# ---------------------------------------------------------------------------
# q404 — chunk-grain plan realization: the variance fix for q403
# ---------------------------------------------------------------------------

_Q404_W = 64  # non-overlapping chunk size: window == stride, so chunk
# token counts PARTITION each doc's tokens (sum == doc tokens) and the
# same token budget is realized over many small units


def _q404_oracle() -> str:
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_sql
    from databricks_etl_spark.plans.queries_text import _TOKS

    o312 = QUERIES["q312_training_manifest"].oracle
    payload = (
        "'alloc:' || CAST(c.doc_id AS VARCHAR) || ':'"
        " || CAST(c.chunk_idx AS VARCHAR)"
    )
    keep = f"({_md5_mod_sql(payload)} % {_Q403_PPM})"
    cap_body = """SELECT source,
                   CAST(SUM(nt) AS BIGINT) AS cap_tokens
            FROM shp GROUP BY 1"""
    alloc = _q398_alloc_sql(src="shp", cap_body=cap_body)
    return f"""
        WITH shp AS MATERIALIZED (
            SELECT d.doc_id, d.source, {_TOKS} AS toks,
                   CAST(len({_TOKS}) AS BIGINT) AS nt
            FROM documents d
            JOIN (SELECT doc_id FROM ({o312}) WHERE ship) s
              ON d.doc_id = s.doc_id
        ),
        pl AS MATERIALIZED (
            SELECT source, cap_tokens, alloc_tokens,
                   (alloc_tokens * {_Q403_PPM}) // cap_tokens AS rate_ppm
            FROM (
                WITH {alloc}
            )
        ),
        ch AS (
            SELECT doc_id, source,
                   CAST(p // {_Q404_W} AS BIGINT) AS chunk_idx,
                   CAST(len(list_slice(toks, p + 1, p + {_Q404_W}))
                        AS BIGINT) AS nt
            FROM (
                SELECT doc_id, source, toks,
                       unnest(range(0, len(toks), {_Q404_W})) AS p
                FROM shp
            )
        ),
        samp AS (
            SELECT c.source, c.nt
            FROM ch c JOIN pl ON c.source = pl.source
            WHERE {keep} < pl.rate_ppm
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS realized_chunks,
                   CAST(SUM(nt) AS BIGINT) AS realized_tokens
            FROM samp GROUP BY 1
        )
        SELECT pl.source, pl.cap_tokens, pl.alloc_tokens, pl.rate_ppm,
               COALESCE(agg.realized_chunks, 0) AS realized_chunks,
               COALESCE(agg.realized_tokens, 0) AS realized_tokens,
               CASE WHEN pl.alloc_tokens > 0
                    THEN round(CAST(COALESCE(agg.realized_tokens, 0)
                                    - pl.alloc_tokens AS DOUBLE)
                               / pl.alloc_tokens, 6) END AS rel_error
        FROM pl LEFT JOIN agg USING (source)
    """


@query("q404_plan_realization_chunks", oracle=_q404_oracle())
def q404_plan_realization_chunks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q403's realization with the GRAIN knob turned: the same q400
    plan and md5-ppm keep predicate, but the sampling unit is a
    NON-overlapping {_Q404_W}-token chunk (window == stride, so
    chunk token counts partition each doc exactly and capacity still
    reconciles). Each Bernoulli draw then moves at most {_Q404_W}
    tokens instead of a whole document, so when documents are LONG
    relative to the chunk the realized tokens concentrate around
    alloc — the planted long-doc test drives both grains through the
    shared `_q403_realized` kernel and shows ~|100%| doc-grain error
    collapse to a few percent at chunk grain. On this short-doc
    testdata (~1 chunk/doc) the grains are statistically equivalent
    and the lane's value is the knob itself, stated honestly: a real
    run picks the grain whose error band its mixture tolerances
    allow, paying chunk-id bookkeeping for budget fidelity.

    Determinism/scale: identical discipline to q403 (integer md5-ppm
    predicate, integer sums, one guarded ratio); chunking is the
    map-side explode of q318 with stride == window, no extra shuffle
    — the rollup keys on source either way. 100 TB: same plan as
    q403 plus the explode."""
    from databricks_etl_spark.operators.text import chunk_tokens
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_col

    shp, pl = _q403_pool_plan(spark, sf_dir, with_text=True)
    units = (
        chunk_tokens(shp.select("doc_id", "text"), _Q404_W, _Q404_W)
        .join(shp.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            F.col("n_chunk_tokens").cast("long").alias("nt"),
            (
                _md5_mod_col(
                    F.concat(
                        F.lit("alloc:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("chunk_idx").cast("string"),
                    )
                )
                % _Q403_PPM
            ).alias("__k"),
        )
    )
    return _q403_realized(units, pl, "realized_chunks")


# ---------------------------------------------------------------------------
# q405 — impact-ordered BM25 index pruning: retrieval quality vs index size
# ---------------------------------------------------------------------------

_Q405_LEVELS = (25, 50, 75, 100)  # % of each term's postings retained
_Q405_AT = 10  # overlap cutoff


def _q405_oracle() -> str:
    from databricks_etl_spark.plans.queries_round6 import (
        _Q263_CONTRIB_SQL,
    )

    levels = ", ".join(str(v) for v in _Q405_LEVELS)
    return f"""
        WITH {_Q263_CONTRIB_SQL},
        pr AS (
            SELECT doc_id, w, c,
                   row_number() OVER (PARTITION BY w
                       ORDER BY c DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY w) AS d
            FROM contrib
        ),
        lv AS (SELECT CAST(unnest([{levels}]) AS INTEGER) AS lvl),
        kept AS (
            SELECT lv.lvl, pr.doc_id, pr.c,
                   CASE WHEN (pr.rn - 1) * 100 < pr.d * lv.lvl
                        THEN 1 ELSE 0 END AS keep
            FROM pr CROSS JOIN lv
        ),
        sc AS (
            SELECT lvl, doc_id,
                   SUM(CASE WHEN keep = 1 THEN c
                            ELSE CAST(0 AS DECIMAL(18,9)) END) AS s,
                   CAST(SUM(keep) AS BIGINT) AS n_kept
            FROM kept GROUP BY 1, 2
        ),
        rk AS (
            SELECT lvl, doc_id, s, n_kept,
                   row_number() OVER (PARTITION BY lvl
                       ORDER BY s DESC, doc_id) AS rk
            FROM sc WHERE s > 0
        ),
        fl AS (
            SELECT doc_id FROM rk
            WHERE lvl = 100 AND rk <= {_Q405_AT}
        )
        SELECT r.lvl,
               CAST(SUM(CASE WHEN r.rk <= {_Q405_AT} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ranked_at_10,
               (SELECT CAST(SUM(n_kept) AS BIGINT) FROM sc
                WHERE sc.lvl = r.lvl) AS kept_postings,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS total_postings,
               round((SELECT CAST(SUM(n_kept) AS DOUBLE) FROM sc
                      WHERE sc.lvl = r.lvl)
                     / (SELECT COUNT(*) FROM pr), 6) AS retained_share,
               round(CAST(SUM(CASE WHEN r.rk <= {_Q405_AT}
                                    AND r.doc_id IN (SELECT doc_id FROM fl)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / {_Q405_AT}, 6) AS overlap_at_10
        FROM rk r
        GROUP BY r.lvl
    """


@query("q405_bm25_impact_pruning", oracle=_q405_oracle())
def q405_bm25_impact_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Impact-ordered index pruning for the lexical retriever — the
    BM25 sibling of the IVF probe sweep (q341/q388/q396): a
    100 TB-corpus posting list is served truncated to its highest-
    impact entries (postings ranked per term by contribution, the
    static index-pruning technique of impact-ordered/tiered
    inverted indexes), and this lane measures what each retention
    level costs in retrieval quality. Per level: postings kept
    (ceil-of-share cutoff in exact integer cross-multiplication —
    a rare term always keeps >= 1 posting), the pruned-index
    top-{_Q405_AT} overlap with the full-index ranking, and the
    ranked-doc count. Level 100 IS the full index (overlap exactly
    1.0 by construction, tested) and scores are q263's own decimal
    contributions through the shared `_q263_contrib` kernel, so the
    sweep cannot drift from the registered retriever.

    Determinism: contributions are q263's 9-dp decimals; posting
    ranks and the keep cutoff are exact integer comparisons; doc
    ranks tiebreak on doc_id; overlap is a count ratio.

    Scale shape: the contribution build prunes the token stream to
    the query vocabulary BEFORE any shuffle (q263's plan); ranking
    windows run per (level, term) and per level over matched docs
    only — bounded by the query-vocabulary postings, never the
    corpus. The multi-consumer scored relation is localCheckpoint'd
    once. 100 TB: posting-bounded, corpus-scan-free after tf."""
    from pyspark.sql import Window

    from databricks_etl_spark.plans.queries_round6 import _q263_contrib

    contrib = _q263_contrib(spark, sf_dir)
    wt = Window.partitionBy("w")
    pr = contrib.select(
        "doc_id",
        "c",
        F.row_number()
        .over(wt.orderBy(F.desc("c"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wt).alias("d"),
    )
    lv = F.explode(
        F.array(*[F.lit(v) for v in _Q405_LEVELS])
    ).alias("lvl")
    kept = pr.select("doc_id", "c", "rn", "d", lv).withColumn(
        "keep",
        ((F.col("rn") - 1) * 100 < F.col("d") * F.col("lvl")).cast(
            "int"
        ),
    )
    sc = (
        kept.groupBy("lvl", "doc_id")
        .agg(
            F.sum(
                F.when(F.col("keep") == 1, F.col("c")).otherwise(
                    F.lit("0").cast("decimal(18,9)")
                )
            ).alias("s"),
            F.sum("keep").cast("long").alias("n_kept"),
        )
        .localCheckpoint(eager=False)
    )
    rk = sc.filter(F.col("s") > 0).select(
        "lvl",
        "doc_id",
        "n_kept",
        F.row_number()
        .over(
            Window.partitionBy("lvl").orderBy(
                F.desc("s"), F.asc("doc_id")
            )
        )
        .alias("rk"),
    )
    fl = rk.filter(
        (F.col("lvl") == 100) & (F.col("rk") <= _Q405_AT)
    ).select(F.col("doc_id").alias("__fd"))
    tot = pr.agg(
        F.count(F.lit(1)).cast("long").alias("total_postings")
    )
    kp = sc.groupBy("lvl").agg(
        F.sum("n_kept").cast("long").alias("kept_postings")
    )
    j = rk.join(F.broadcast(fl), rk["doc_id"] == F.col("__fd"), "left")
    per = j.groupBy("lvl").agg(
        F.sum(F.when(F.col("rk") <= _Q405_AT, 1).otherwise(0))
        .cast("long")
        .alias("n_ranked_at_10"),
        F.round(
            F.sum(
                F.when(
                    (F.col("rk") <= _Q405_AT) & F.col("__fd").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("double")
            / _Q405_AT,
            6,
        ).alias("overlap_at_10"),
    )
    return (
        per.join(kp, "lvl")
        .crossJoin(F.broadcast(tot))
        .select(
            "lvl",
            "n_ranked_at_10",
            "kept_postings",
            "total_postings",
            F.round(
                F.col("kept_postings").cast("double")
                / F.col("total_postings"),
                6,
            ).alias("retained_share"),
            "overlap_at_10",
        )
    )


# ---------------------------------------------------------------------------
# q406 — sampled-truth graded nDCG sweep (q396's bench-able twin)
# ---------------------------------------------------------------------------


def _q406_oracle() -> str:
    return _q396_oracle(sample_pred=_Q388_PRED_SQL)


@query("q406_ivf_ndcg_sweep_sampled", oracle=_q406_oracle())
def q406_ivf_ndcg_sweep_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q396's graded nDCG curve against SAMPLED truth — the same
    md5 ~1/8 chunk slice as q388, completing the twin symmetry:
    (q341, q388) for recall, (q396, q406) for ranking quality. The
    q396 proof carries verbatim because the slice only shrinks the
    scored corpus, not the ordering: grades still derive from the
    exact ranking OF THE SLICE, positions are still window counts of
    the same total order, monotonicity and exact-1.0-at-full-probe
    both survive (tested). Shares q396's rollup and q341's scored
    pass through the sample/topk kwargs — byte-identical at
    defaults.

    Scale shape: q388's (slice-rate-bounded eval budget at any
    corpus size)."""
    import databricks_etl_spark.plans.queries_round10 as r10

    sample = (
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("chunk_idx").cast("string"),
                )
            ),
            1,
            1,
        )
        <= "1"
    )
    return _q396_sweep(
        r10._q341_truth(spark, sf_dir, sample=sample, topk=_Q396_TOPN)
    )


# ---------------------------------------------------------------------------
# q407 — STREAMING plan realization (q403 at ingest)
# ---------------------------------------------------------------------------


def _q407_register() -> None:
    @query("q407_streaming_plan_realization", oracle=_q403_oracle())
    def q407_streaming_plan_realization(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """q403's budgeted sampling maintained AT INGEST — the
        q361/q385/q390 streaming discipline applied to the
        realization step: the water-fill plan and pool membership
        are FROZEN batch-side artifacts (a run approves a plan, then
        ingest realizes it), each document micro-batch decides its
        own keeps alone (the md5-ppm draw depends only on doc id +
        its source's frozen rate), and — because per-source realized
        counts are fully associative — lands just a #sources-row
        PARTIAL per epoch in the epoch-idempotent sink
        (``streaming/planrealize.py``). The drain sums partials and
        joins the frozen plan through the SAME report helper the
        batch lane uses, and q407 registers with q403's oracle — the
        streamed sample is hash-proven equal to the batch sample.
        Slicing invariance and epoch replay are tested like q390's.

        State: #sources rows per epoch — independent of stream
        length and of corpus size; the cheapest sink shape."""
        from databricks_etl_spark.streaming.planrealize import (
            run_streaming_plan_realization,
        )

        return run_streaming_plan_realization(spark, sf_dir)


_q407_register()


# ---------------------------------------------------------------------------
# q408 — fail-closed shipping-plan gate: funnel + realization + pruning
# ---------------------------------------------------------------------------

# Calibrated to pass on the shipped corpus at every local SF with
# honest headroom (sf0.001/sf0.01 worst cases: shipped token survival
# 0.628/0.626, max |realization error| 0.49/0.41, pruning overlap@10
# at the 50% tier 1.0/1.0) — tight enough that a gutted funnel, a
# mis-leveled plan, or a collapsed pruned index flips the verdict.
_Q408_MIN_SURVIVAL = 0.40  # shipped token survival floor (q399)
_Q408_MAX_ABS_ERR = 0.75  # per-source |realization error| ceiling (q403)
_Q408_MIN_OVERLAP = 0.60  # pruned-index overlap@10 floor at 50% (q405)
_Q408_SERVE_LVL = 50  # the pruning tier a deployment would serve


def shipping_gate(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_survival: float = _Q408_MIN_SURVIVAL,
    max_abs_err: float = _Q408_MAX_ABS_ERR,
    min_overlap: float = _Q408_MIN_OVERLAP,
) -> DataFrame:
    """The q408 verdict kernel with thresholds as kwargs (the q386
    discipline: defaults are the production constants, the planted
    tests flip exactly one knob each). Fail-closed: missing funnel
    stages, zero planned sources, or missing pruning tiers HOLD."""
    one = F.count(F.lit(1))
    fu = q399_attrition_funnel(spark, sf_dir).agg(
        one.cast("long").alias("n_stages"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("stage_name") == "shipped")
                    & (F.col("token_survival") < min_survival),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_survival"),
    )
    rz = q403_plan_realization(spark, sf_dir).agg(
        one.cast("long").alias("n_sources"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("rel_error")) > max_abs_err, 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_realization"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("alloc_tokens") > F.col("cap_tokens"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_infeasible"),
    )
    pz = q405_bm25_impact_pruning(spark, sf_dir).agg(
        one.cast("long").alias("n_levels"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lvl") == _Q408_SERVE_LVL)
                    & (F.col("overlap_at_10") < min_overlap),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("viol_pruning"),
    )
    nv = (
        F.col("viol_survival")
        + F.col("viol_realization")
        + F.col("viol_infeasible")
        + F.col("viol_pruning")
    )
    return (
        fu.crossJoin(F.broadcast(rz))
        .crossJoin(F.broadcast(pz))
        .select(
            "n_stages",
            "n_sources",
            "n_levels",
            "viol_survival",
            "viol_realization",
            "viol_infeasible",
            "viol_pruning",
            nv.cast("long").alias("n_violations"),
            F.when(
                (nv == 0)
                & (F.col("n_stages") == 6)
                & (F.col("n_sources") > 0)
                & (F.col("n_levels") == 4),
                F.lit("RELEASE"),
            )
            .otherwise(F.lit("HOLD"))
            .alias("verdict"),
        )
    )


def _q408_oracle() -> str:
    o399 = QUERIES["q399_attrition_funnel"].oracle
    o403 = QUERIES["q403_plan_realization"].oracle
    o405 = QUERIES["q405_bm25_impact_pruning"].oracle
    return f"""
        WITH fu_in AS MATERIALIZED (SELECT * FROM ({o399})),
        rz_in AS MATERIALIZED (SELECT * FROM ({o403})),
        pz_in AS MATERIALIZED (SELECT * FROM ({o405})),
        fu AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_stages,
                   CAST(COALESCE(SUM(CASE WHEN stage_name = 'shipped'
                            AND token_survival < {_Q408_MIN_SURVIVAL}
                            THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS viol_survival
            FROM fu_in
        ),
        rz AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(COALESCE(SUM(CASE WHEN abs(rel_error)
                            > {_Q408_MAX_ABS_ERR} THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS viol_realization,
                   CAST(COALESCE(SUM(CASE WHEN alloc_tokens > cap_tokens
                            THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS viol_infeasible
            FROM rz_in
        ),
        pz AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_levels,
                   CAST(COALESCE(SUM(CASE WHEN lvl = {_Q408_SERVE_LVL}
                            AND overlap_at_10 < {_Q408_MIN_OVERLAP}
                            THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS viol_pruning
            FROM pz_in
        )
        SELECT n_stages, n_sources, n_levels, viol_survival,
               viol_realization, viol_infeasible, viol_pruning,
               CAST(viol_survival + viol_realization + viol_infeasible
                    + viol_pruning AS BIGINT) AS n_violations,
               CASE WHEN viol_survival + viol_realization
                         + viol_infeasible + viol_pruning = 0
                         AND n_stages = 6 AND n_sources > 0
                         AND n_levels = 4
                    THEN 'RELEASE' ELSE 'HOLD' END AS verdict
        FROM fu, rz, pz
    """


@query("q408_shipping_plan_gate", oracle=_q408_oracle())
def q408_shipping_plan_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuation arc's fail-closed capstone (q386/q395
    discipline, third gate of the family): plan -> realize -> audit
    -> GATE. One verdict row over three REGISTERED lanes — q399's
    funnel (shipped token survival floor: a gutted pipeline HOLDs),
    q403's realization (per-source |rel_error| ceiling: a
    mis-leveled or mis-realized plan HOLDs; plus the structural
    alloc<=cap feasibility check that can only fire on a kernel
    regression), and q405's pruning sweep (overlap@10 floor at the
    {_Q408_SERVE_LVL}% serving tier: a pruned index that lost the
    ranking HOLDs). Missing stages/sources/tiers HOLD (fail-closed
    on empty). Thresholds ride the kwarg surface; each planted test
    flips one knob and asserts the verdict turns.

    Scale shape: three bounded rollups over component lanes crossed
    as broadcast 1-row relations — the gate costs nothing beyond the
    lanes it composes."""
    return shipping_gate(spark, sf_dir)


# ---------------------------------------------------------------------------
# q409 — floored allocation: per-source minimum quotas + residual fill
# ---------------------------------------------------------------------------

_Q409_FLOOR_DIV = 10  # guaranteed minimum: 1/10 of each source's capacity


def _q409_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    cap_body = """SELECT source,
                   full_cap - floor_tokens AS cap_tokens
            FROM fcap"""
    budget_body = """SELECT rbudget AS budget FROM gl"""
    alloc = _q398_alloc_sql(cap_body=cap_body, budget_body=budget_body)
    return f"""
        WITH fcap AS (
            SELECT source,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS full_cap,
                   CAST(SUM(len({_TOKS})) AS BIGINT)
                       // {_Q409_FLOOR_DIV} AS floor_tokens
            FROM documents GROUP BY 1
        ),
        gl AS (
            SELECT CAST(SUM(full_cap) AS BIGINT) // 2 AS budget,
                   CAST(SUM(full_cap) AS BIGINT) // 2
                       - CAST(SUM(floor_tokens) AS BIGINT) AS rbudget
            FROM fcap
        ),
        res AS (
            SELECT * FROM (WITH {alloc})
        )
        SELECT f.source,
               f.full_cap AS cap_tokens,
               f.floor_tokens,
               r.weight,
               r.saturated,
               f.floor_tokens + r.alloc_tokens AS alloc_tokens,
               CASE WHEN g.budget > 0 THEN
                   round(CAST(f.floor_tokens + r.alloc_tokens AS DOUBLE)
                         / g.budget, 6) END AS budget_share
        FROM fcap f
        JOIN res r USING (source)
        CROSS JOIN gl g
    """


@query("q409_floored_waterfill", oracle=_q409_oracle())
def q409_floored_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q398's allocation with per-source MINIMUM quotas — the
    constraint a real mixture adds first ("never starve a rare
    domain"): every source is guaranteed floor_s = cap_s/{_Q409_FLOOR_DIV}
    tokens off the top, and the REMAINING budget water-fills the
    residual capacities (cap_s - floor_s) with the same
    sqrt-temperature weights through the SAME kernel — the budget
    override is the only new code path (kwarg discipline; q398's
    oracle is byte-identical at defaults). alloc_s = floor_s +
    min(cap_s - floor_s, lambda*w_s), so every source lands in
    [floor_s, cap_s] by construction (tested), the floors sum is
    feasible by construction (floors are a fixed fraction below the
    half-capacity budget), and a source the unfloored plan would
    starve gets its quota exactly (planted test: a giant source
    crowds out a tiny one's level allocation but can never touch its
    floor).

    Determinism/scale: identical to q398 — the floors are integer
    divisions, the residual fill is the proven kernel, and the whole
    allocation runs on the #sources-row relation after one
    map-combinable corpus rollup."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    fcap = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(tokens_col("text")))
            .cast("long")
            .alias("full_cap")
        )
        .withColumn(
            "floor_tokens",
            F.expr(f"full_cap DIV {_Q409_FLOOR_DIV}"),
        )
        .localCheckpoint(eager=False)
    )
    glob = fcap.agg(
        F.expr("CAST(SUM(full_cap) AS BIGINT) DIV 2").alias("budget"),
        (
            F.expr("CAST(SUM(full_cap) AS BIGINT) DIV 2")
            - F.sum("floor_tokens")
        )
        .cast("long")
        .alias("rbudget"),
    ).localCheckpoint(eager=False)
    res = _q398_waterfill(
        fcap.select(
            "source",
            (F.col("full_cap") - F.col("floor_tokens")).alias(
                "cap_tokens"
            ),
        ),
        budget=glob.select(F.col("rbudget").alias("budget")),
    )
    return (
        fcap.join(
            res.select("source", "weight", "saturated", "alloc_tokens"),
            "source",
        )
        .crossJoin(F.broadcast(glob.select("budget")))
        .select(
            "source",
            F.col("full_cap").alias("cap_tokens"),
            "floor_tokens",
            "weight",
            "saturated",
            (F.col("floor_tokens") + F.col("alloc_tokens")).alias(
                "alloc_tokens"
            ),
            F.when(
                F.col("budget") > 0,
                F.round(
                    (
                        F.col("floor_tokens") + F.col("alloc_tokens")
                    ).cast("double")
                    / F.col("budget"),
                    6,
                ),
            ).alias("budget_share"),
        )
    )


# ---------------------------------------------------------------------------
# q410 — repeat-factor planner: fractional epochs under a budget
# ---------------------------------------------------------------------------

_Q410_EMAX = 4  # repetition ceiling: no source repeats more than 4 epochs


def _q410_oracle() -> str:
    from databricks_etl_spark.plans.queries_text import _TOKS

    cap_body = f"""SELECT source,
                   CAST(SUM(len({_TOKS})) AS BIGINT)
                       * {_Q410_EMAX} AS cap_tokens
            FROM documents GROUP BY 1"""
    budget_body = """SELECT CAST(SUM(cap_tokens) AS BIGINT)
                // {emax} AS budget
            FROM wt""".format(emax=_Q410_EMAX)
    alloc = _q398_alloc_sql(cap_body=cap_body, budget_body=budget_body)
    return f"""
        WITH res AS (
            SELECT * FROM (WITH {alloc})
        )
        SELECT source,
               cap_tokens // {_Q410_EMAX} AS corpus_tokens,
               weight, saturated, alloc_tokens,
               round(CAST(alloc_tokens AS DOUBLE)
                     / (cap_tokens // {_Q410_EMAX}), 6) AS epochs
        FROM res
    """


@query("q410_repeat_factor_plan", oracle=_q410_oracle())
def q410_repeat_factor_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPSAMPLING planner — the question q398 cannot ask: q398
    clamps every source at one pass over its capacity, but a real
    mixture REPEATS small high-value sources (multiple epochs) while
    big ones see a fraction of one. Same kernel, one reinterpretation:
    capacities become {_Q410_EMAX}x the corpus tokens (the repetition
    ceiling — beyond ~4 epochs repetition hurts more than it helps),
    the budget is ONE full corpus pass, and the per-source
    ``epochs = alloc / corpus_tokens`` column is the repeat factor
    the dataloader schedules (saturated == pinned at the {_Q410_EMAX}
    -epoch ceiling). sqrt-temperature weights then upsample small
    sources ABOVE 1 epoch and downsample large ones below it —
    planted test: a tiny source plans > 1 epoch, a giant < 1, and no
    source exceeds the ceiling.

    Determinism/scale: the kernel's (integer cross-multiplication
    saturation, floor-division allocation, #sources-row windows);
    the epoch ratio is one exact-integer division rounded at 6dp."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    cap = d.groupBy("source").agg(
        (F.sum(F.size(tokens_col("text"))) * _Q410_EMAX)
        .cast("long")
        .alias("cap_tokens")
    )
    wt_budget = cap.agg(
        F.expr(
            f"CAST(SUM(cap_tokens) AS BIGINT) DIV {_Q410_EMAX}"
        ).alias("budget")
    )
    res = _q398_waterfill(cap, budget=wt_budget)
    return res.select(
        "source",
        F.expr(f"cap_tokens DIV {_Q410_EMAX}").alias("corpus_tokens"),
        "weight",
        "saturated",
        "alloc_tokens",
        F.round(
            F.col("alloc_tokens").cast("double")
            / F.expr(f"cap_tokens DIV {_Q410_EMAX}"),
            6,
        ).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# q411 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis keys)
# ---------------------------------------------------------------------------

_Q411_K = 50  # eval-set size drawn
_Q411_MOD = 1_000_000_007  # md5-mod modulus (the q344 row-hash prime)


def _q411_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import _quality_sql
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_sql

    payload = "'wsample:' || CAST(doc_id AS VARCHAR)"
    return f"""
        WITH {_quality_sql()},
        wts AS (
            SELECT doc_id,
                   CAST(quality_score * 4 + 1 AS BIGINT) AS weight,
                   ({_md5_mod_sql(payload)} + 1.0)
                       / {_Q411_MOD + 1}.0 AS u
            FROM q
        ),
        keyed AS (
            SELECT doc_id, weight,
                   round(ln(u) / weight, 9) AS sample_key
            FROM wts
        )
        SELECT doc_id, weight, sample_key,
               CAST(rk AS BIGINT) AS rank
        FROM (
            SELECT doc_id, weight, sample_key,
                   row_number() OVER (
                       ORDER BY sample_key DESC, doc_id) AS rk
            FROM keyed
        ) WHERE rk <= {_Q411_K}
    """


@query("q411_weighted_sample_noreplace", oracle=_q411_oracle())
def q411_weighted_sample_noreplace(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-weighted sampling WITHOUT replacement, deterministic
    and one-pass — the draw an eval-set curation actually needs
    (md5-mod hash sampling q125/q403 is per-row Bernoulli: it cannot
    hit an exact size, and weighting it distorts inclusion). The
    Efraimidis–Spirakis A-ES scheme: each doc gets key u^(1/w) for a
    uniform u — here the PORTABLE md5-mod uniform, so the draw is
    reproducible across engines and reruns — and the top-{_Q411_K}
    keys ARE a weighted sample without replacement (Efraimidis &
    Spirakis, IPL 2006). Ranking by ln(u)/w descending is the same
    order in exact arithmetic; ln is the one transcendental, and the
    key is rounded to 9dp BEFORE ranking with a doc_id tiebreak, so
    a sub-9dp libm divergence cannot flip the selected set. Weights
    are q258's quality quarters mapped to integers 1..5 (a zero-
    quality doc still has weight 1 — a true zero weight would need
    an explicit filter, stated rather than implied).

    Scale shape: one scan computing (weight, u, key) per row, then a
    top-{_Q411_K} — TakeOrderedAndProject, per-partition heaps, no
    global sort, no shuffle beyond the final K-row gather. 100 TB:
    the scan dominates; the draw is free.
    Reference: no counterpart; completes the sampling family
    (Bernoulli q125, stratified q357, plan-rate q403) with the
    exact-size weighted draw."""
    from databricks_etl_spark.operators.text import quality_features
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_col

    d = read_table(spark, sf_dir, "documents")
    qf = quality_features(d).select("doc_id", "quality_score")
    u = (
        _md5_mod_col(
            F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))
        )
        + 1.0
    ) / float(_Q411_MOD + 1)
    keyed = qf.select(
        "doc_id",
        (F.col("quality_score") * 4 + 1).cast("long").alias("weight"),
        F.round(F.log(u) / ((F.col("quality_score") * 4 + 1).cast("long")), 9).alias(
            "sample_key"
        ),
    )
    from pyspark.sql import Window

    # top-K via orderBy+limit — TakeOrderedAndProject (per-partition
    # heaps, no global sort); rank assigned on the K-row result
    top = keyed.orderBy(F.desc("sample_key"), F.asc("doc_id")).limit(
        _Q411_K
    )
    return top.select(
        "doc_id",
        "weight",
        "sample_key",
        F.row_number()
        .over(Window.orderBy(F.desc("sample_key"), F.asc("doc_id")))
        .cast("long")
        .alias("rank"),
    )


# ---------------------------------------------------------------------------
# q412 — Johnson–Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

_Q412_D = 64  # source embedding dims (the embeddings table)
_Q412_K = 16  # projected dims
_Q412_BAND = 0.5  # |ratio - 1| band reported


def _q412_signs() -> list[list[int]]:
    """The deterministic ±1 projection matrix, computed ONCE in
    Python from md5 parity and embedded as literals on both engines
    (the q285 literal-centers discipline) — no runtime hashing."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0], 16
            )
            % 2
            == 0
            else -1
            for i in range(_Q412_D)
        ]
        for j in range(_Q412_K)
    ]


_Q412_S = _q412_signs()


def _q412_y_sql() -> str:
    """The projected-vector array as ONE SQL string — r16: the former
    per-Column builder crossed py4j ~{_Q412_K}×{_Q412_D} times per
    call site (~9-12 s of pure DataFrame BUILD per invocation, guide
    §1.2 driver-side work). Fold order preserved exactly: each entry
    is the left-associative 0 + ±e_1 + ±e_2 + … sum divided by
    sqrt(K); 0 + x == x in IEEE double, so values are bit-identical
    to the old Column tree."""
    rows = ", ".join(
        "(0.0D"
        + "".join(
            (" + " if s > 0 else " - ")
            + f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
            for i, s in enumerate(row)
        )
        + f") / {float(_Q412_K ** 0.5)!r}D"
        for row in _Q412_S
    )
    return f"array({rows})"


def _q412_y_col():
    """The projected-vector array expression over an ``embedding``
    column — the literal-matrix projection shared by q412's audit and
    q413's compressed-recall eval (compiled from one SQL string)."""
    return F.expr(_q412_y_sql())


def _q412_proj_sql() -> str:
    """The DuckDB twin of :func:`_q412_y_col` (a LIST literal
    expression over ``embedding``)."""
    return ", ".join(
        "("
        + " + ".join(
            f"{'' if s > 0 else '-'}CAST(embedding[{i + 1}] AS DOUBLE)"
            for i, s in enumerate(row)
        )
        + f") / {float(_Q412_K ** 0.5)}"
        for row in _Q412_S
    )


def _q412_oracle() -> str:
    proj = _q412_proj_sql()
    d2 = " + ".join(
        f"(CAST(a.embedding[{i + 1}] AS DOUBLE)"
        f" - CAST(b.embedding[{i + 1}] AS DOUBLE))"
        f" * (CAST(a.embedding[{i + 1}] AS DOUBLE)"
        f" - CAST(b.embedding[{i + 1}] AS DOUBLE))"
        for i in range(_Q412_D)
    )
    p2 = " + ".join(
        f"(a.y[{j + 1}] - b.y[{j + 1}]) * (a.y[{j + 1}] - b.y[{j + 1}])"
        for j in range(_Q412_K)
    )
    return f"""
        WITH sub AS (
            SELECT vec_id, embedding, [{proj}] AS y
            FROM embeddings
            WHERE substr(md5('jl:' || CAST(vec_id AS VARCHAR)), 1, 1)
                  = '0'
        ),
        pairs AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   round(({p2}) / ({d2}), 6) AS ratio
            FROM sub a JOIN sub b ON a.vec_id < b.vec_id
            WHERE ({d2}) > 0
        )
        SELECT CAST((SELECT COUNT(*) FROM sub) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(CAST(SUM(CAST(ratio AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_ratio,
               round(MIN(ratio), 6) AS min_ratio,
               round(MAX(ratio), 6) AS max_ratio,
               round(CAST(SUM(CASE WHEN abs(ratio - 1.0) <= {_Q412_BAND}
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS share_in_band
        FROM pairs
    """


@query("q412_jl_distortion_audit", oracle=_q412_oracle())
def q412_jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality-reduction QA for the embedding store: project
    the {_Q412_D}-dim vectors to {_Q412_K} dims with a deterministic
    ±1/sqrt({_Q412_K}) matrix (Achlioptas' database-friendly
    Johnson–Lindenstrauss construction — signs are md5 parity
    computed ONCE in Python and embedded as literals on both
    engines, the q285 discipline) and audit pairwise squared-
    distance distortion ||Pa-Pb||²/||a-b||² over a deterministic
    md5 1/16 vector slice, all pairs within the slice. Reports the
    distortion envelope (mean/min/max ratio, share within the
    ±{_Q412_BAND} band) — the go/no-go a pipeline checks before
    swapping the ANN index onto compressed vectors. sqrt({_Q412_K})
    is exact (= 4), so the only floats are fixed-order sums of the
    same doubles on both engines; per-pair ratios round to 6dp and
    cross-pair means go through decimal sums.

    Scale shape: the projection maps only the sampled slice (slice
    rate is the eval-budget knob, q388's argument); the pair join is
    slice×slice with a<b — at 100 TB you lower the slice, never the
    construction. No shuffle beyond the slice self-join; one 1-row
    rollup."""
    emb = read_table(spark, sf_dir, "embeddings")
    sub = emb.filter(
        F.substring(
            F.md5(F.concat(F.lit("jl:"), F.col("vec_id").cast("string"))),
            1,
            1,
        )
        == "0"
    ).select("vec_id", "embedding", _q412_y_col().alias("y"))
    a = sub.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("y").alias("ya"),
    )
    b = sub.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("y").alias("yb"),
    )
    # r16: both quadratic forms compile from ONE SQL string each (the
    # former per-Column build was ~64×4 + 16×2 py4j round trips per
    # invocation); left-associative 0.0 + t1 + … fold order preserved.
    d2 = F.expr(
        "0.0D + "
        + " + ".join(
            f"(CAST(element_at(ea, {i + 1}) AS DOUBLE)"
            f" - CAST(element_at(eb, {i + 1}) AS DOUBLE))"
            f" * (CAST(element_at(ea, {i + 1}) AS DOUBLE)"
            f" - CAST(element_at(eb, {i + 1}) AS DOUBLE))"
            for i in range(_Q412_D)
        )
    )
    p2 = F.expr(
        "0.0D + "
        + " + ".join(
            f"(element_at(ya, {j + 1}) - element_at(yb, {j + 1}))"
            f" * (element_at(ya, {j + 1}) - element_at(yb, {j + 1}))"
            for j in range(_Q412_K)
        )
    )
    pairs = (
        a.join(b, F.col("va") < F.col("vb"))
        .filter(d2 > 0)
        .select(F.round(p2 / d2, 6).alias("ratio"))
    )
    nv = sub.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return (
        pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_ratio"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
            F.round(
                F.sum(
                    F.when(
                        F.abs(F.col("ratio") - 1.0) <= _Q412_BAND, 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("share_in_band"),
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "n_vecs",
            "n_pairs",
            "mean_ratio",
            "min_ratio",
            "max_ratio",
            "share_in_band",
        )
    )


# ---------------------------------------------------------------------------
# q413 — compressed-vector retrieval recall: serving on 16 of 64 dims
# ---------------------------------------------------------------------------


def _q413_oracle() -> str:
    from databricks_etl_spark.plans.queries_similarity import _dot_sql

    proj = _q412_proj_sql()
    doty = lambda a, b: " + ".join(  # noqa: E731
        f"{a}.y[{j + 1}] * {b}.y[{j + 1}]" for j in range(_Q412_K)
    )
    sim64 = (
        f"round({_dot_sql('q.embedding', 'c.embedding')}"
        f" / (sqrt({_dot_sql('q.embedding', 'q.embedding')})"
        f" * sqrt({_dot_sql('c.embedding', 'c.embedding')}))"
        f", 6)"
    )
    sim16 = (
        f"round(({doty('q', 'c')})"
        f" / (sqrt({doty('q', 'q')}) * sqrt({doty('c', 'c')})), 6)"
    )
    return f"""
        WITH pj AS (
            SELECT vec_id, embedding, [{proj}] AS y FROM embeddings
        ),
        qs AS (SELECT * FROM pj WHERE vec_id < 20),
        s AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   {sim64} AS sim64, {sim16} AS sim16
            FROM qs q JOIN pj c ON q.vec_id <> c.vec_id
        ),
        truth AS (
            SELECT qid, nid, rk FROM (
                SELECT qid, nid, row_number() OVER (
                    PARTITION BY qid ORDER BY sim64 DESC, nid) AS rk
                FROM s
            ) WHERE rk <= 10
        ),
        jl AS (
            SELECT qid, nid, rk FROM (
                SELECT qid, nid, row_number() OVER (
                    PARTITION BY qid ORDER BY sim16 DESC, nid) AS rk
                FROM s
            ) WHERE rk <= 10
        ),
        per AS (
            SELECT t.qid,
                   CAST(round(SUM(CASE WHEN j.nid IS NOT NULL
                                       THEN 1 ELSE 0 END) / 10.0, 6)
                        AS DECIMAL(18,9)) AS recall10,
                   CAST(MAX(CASE WHEN t.rk = 1 AND j.rk = 1
                                 THEN 1.0 ELSE 0.0 END)
                        AS DECIMAL(18,9)) AS top1
            FROM truth t
            LEFT JOIN jl j ON t.qid = j.qid AND t.nid = j.nid
            GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(recall10) AS DOUBLE) / COUNT(*), 6)
                   AS mean_recall_at_10,
               round(CAST(SUM(top1) AS DOUBLE) / COUNT(*), 6)
                   AS top1_match_rate
        FROM per
    """


@query("q413_jl_retrieval_recall", oracle=_q413_oracle())
def q413_jl_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What q412's distortion envelope actually costs a RETRIEVER:
    brute-force cosine top-10 over the {_Q412_K}-dim JL projections
    (the same literal ±1 matrix) scored against the exact 64-dim
    top-10 truth — mean recall@10 and top-1 agreement over the q310
    query set. The pair (q412, q413) is the compressed-serving
    go/no-go: the audit bounds geometry loss, this lane states the
    end-metric loss, and a deployment trades them against a 4x
    memory/bandwidth cut on the vector store. On THIS corpus the
    verdict is no-go (recall@10 ~ 0.13-0.17): the synthetic vectors
    are near-isotropic, so exact top-10 margins sit inside the JL
    distortion band — while on clustered data the same projection
    keeps recall high (planted structured-clusters test). The metric
    discriminates, which is what a go/no-go must do. One scored pass
    computes BOTH similarities per (query, candidate) row (the q310
    one-pass discipline, localCheckpoint'd for the two rankings);
    both rankings share the (sim DESC, nid) total order and 6dp
    rounds.

    Scale shape: query-set-bounded brute force (broadcast queries,
    map-side scoring) — the exact side IS the eval budget, and at
    100 TB the compressed side is the one you can afford to serve;
    the projection itself is a per-row literal expression, no
    shuffle."""
    # r16: dots compile from ONE SQL string each (the 64-dim per-Column
    # build was the bulk of a ~12 s per-invocation DataFrame BUILD),
    # and the per-row norms are HOISTED out of the pair expression —
    # sqrt(dot(v,v)) is a pure function of one row, multiplied in the
    # same (query-side × corpus-side) order as before, so sims are
    # bit-identical while each pair pays one dot per similarity
    # instead of three.
    dot64 = lambda a, b: "0.0D + " + " + ".join(  # noqa: E731
        f"(CAST(element_at({a}, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at({b}, {i + 1}) AS DOUBLE))"
        for i in range(_Q412_D)
    )
    doty = lambda a, b: "0.0D + " + " + ".join(  # noqa: E731
        f"(element_at({a}, {j + 1}) * element_at({b}, {j + 1}))"
        for j in range(_Q412_K)
    )
    pj = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", _q412_y_col().alias("y"))
        .select(
            "*",
            F.expr(
                f"SQRT({dot64('embedding', 'embedding')}) AS __n64"
            ),
            F.expr(f"SQRT({doty('y', 'y')}) AS __n16"),
        )
    )
    qs = pj.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("__qe"),
        F.col("y").alias("__qy"),
        F.col("__n64").alias("__qn64"),
        F.col("__n16").alias("__qn16"),
    )
    s = (
        pj.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(
                F.expr(dot64("__qe", "embedding"))
                / (F.col("__qn64") * F.col("__n64")),
                6,
            ).alias("sim64"),
            F.round(
                F.expr(doty("__qy", "y"))
                / (F.col("__qn16") * F.col("__n16")),
                6,
            ).alias("sim16"),
        )
        .localCheckpoint(eager=False)  # one scoring pass, two rankings
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("qid").orderBy(F.desc("sim64"), F.asc("nid"))
    wj = Window.partitionBy("qid").orderBy(F.desc("sim16"), F.asc("nid"))
    truth = (
        s.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= 10)
        .select("qid", "nid", "rk")
    )
    jl = (
        s.withColumn("rk", F.row_number().over(wj))
        .filter(F.col("rk") <= 10)
        .select(
            F.col("qid").alias("__jq"),
            F.col("nid").alias("__jn"),
            F.col("rk").alias("__jr"),
        )
    )
    per = (
        truth.join(
            jl,
            (F.col("qid") == F.col("__jq"))
            & (F.col("nid") == F.col("__jn")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("__jn").isNotNull(), 1).otherwise(0)
                )
                / 10.0,
                6,
            )
            .cast("decimal(18,9)")
            .alias("recall10"),
            F.max(
                F.when(
                    (F.col("rk") == 1) & (F.col("__jr") == 1),
                    F.lit(1.0),
                ).otherwise(F.lit(0.0))
            )
            .cast("decimal(18,9)")
            .alias("top1"),
        )
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.cast("long").alias("n_queries"),
        F.round(F.sum("recall10").cast("double") / n, 6).alias(
            "mean_recall_at_10"
        ),
        F.round(F.sum("top1").cast("double") / n, 6).alias(
            "top1_match_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q414 — dataloader interleave run-length audit (batch homogeneity)
# ---------------------------------------------------------------------------


def _capped_doc_lens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, len) with len = q326's budget-capped token
    count — the mass each doc contributes to the sequence it rides."""
    from databricks_etl_spark.operators.text import tokens_col
    from databricks_etl_spark.plans.queries_round9 import _Q326_B

    return read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.least(F.size(tokens_col("text")).cast("long"), F.lit(_Q326_B))
        .cast("long")
        .alias("len"),
    )


def _step_dominant_source(ordr: DataFrame, lens: DataFrame) -> DataFrame:
    """(epoch, step, source): each replay step attributed to the source
    carrying the largest token mass in its sequence (tie → min source).
    Window partitions are (epoch, step) — at most |sources| rows each,
    so the rank is embarrassingly parallel at any corpus size."""
    from pyspark.sql import Window

    mass = (
        ordr.join(lens, "doc_id")
        .groupBy("epoch", "step", "source")
        .agg(F.sum("len").cast("long").alias("mass"))
    )
    w = Window.partitionBy("epoch", "step").orderBy(
        F.desc("mass"), F.asc("source")
    )
    return (
        mass.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("epoch", "step", "source")
    )


def _interleave_audit(steps: DataFrame) -> DataFrame:
    """Run-length statistics of a (epoch, step, source) replay stream,
    per (epoch, source): how many contiguous same-source RUNS the
    stream serves, the mean run length, and the realized count of
    same-source adjacent step pairs against its expectation under an
    independent shuffle (share^2 x pairs) — clumping_ratio ~ 1 means
    the interleave is as mixed as random; >> 1 means the loader feeds
    same-source blocks (batch-composition bias). The step-1 lag is an
    equi-join on (epoch, step = step + 1), NOT a global window — no
    single-task epoch scan at any scale. ``steps`` fans into three
    consumers (cur/prev/tot) — localCheckpoint'd so the upstream
    stream derivation runs once (the q387/q400 rule)."""
    steps = steps.localCheckpoint(eager=False)
    cur = steps
    prev = steps.select(
        "epoch",
        (F.col("step") + 1).alias("step"),
        F.col("source").alias("__prev"),
    )
    adj = cur.join(prev, ["epoch", "step"], "left")
    per = adj.groupBy("epoch", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum(
            F.when(
                F.col("__prev").isNull()
                | (F.col("__prev") != F.col("source")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_runs"),
        F.sum(F.when(F.col("__prev") == F.col("source"), 1).otherwise(0))
        .cast("long")
        .alias("self_adj_pairs"),
    )
    tot = steps.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("long").alias("__t")
    )
    sh = F.col("n_steps").cast("double") / F.col("__t")
    expected = sh * sh * (F.col("__t") - 1)
    return per.join(F.broadcast(tot), "epoch").select(
        "epoch",
        "source",
        "n_steps",
        "n_runs",
        F.round(F.col("n_steps").cast("double") / F.col("n_runs"), 6).alias(
            "mean_run_len"
        ),
        F.round(sh, 6).alias("step_share"),
        "self_adj_pairs",
        F.round(expected, 6).alias("expected_self_adj"),
        F.when(
            F.col("__t") > 1,
            F.round(F.col("self_adj_pairs") / expected, 6),
        ).alias("clumping_ratio"),
    )


def _q414_dom_sql() -> str:
    """Shared oracle CTE block: q326's stream (`ord`, MATERIALIZED)
    reduced to per-step dominant sources (`dom`) — q414/q415/q418 all
    append their rollups to this block so the step-attribution rule
    cannot drift between the audit lanes."""
    from databricks_etl_spark.plans.queries_round7 import _Q291_TOKS
    from databricks_etl_spark.plans.queries_round9 import (
        _Q326_B,
        _q326_oracle,
    )

    return f"""
        ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        lens AS MATERIALIZED (
            SELECT doc_id, source,
                   least({_Q291_TOKS}, {_Q326_B}) AS len
            FROM documents
        ),
        mass AS (
            SELECT o.epoch, o.step, l.source,
                   CAST(SUM(l.len) AS BIGINT) AS mass
            FROM ord o JOIN lens l ON o.doc_id = l.doc_id
            GROUP BY 1, 2, 3
        ),
        dom AS MATERIALIZED (
            SELECT epoch, step, source FROM (
                SELECT epoch, step, source,
                       row_number() OVER (
                           PARTITION BY epoch, step
                           ORDER BY mass DESC, source) AS rk
                FROM mass
            ) WHERE rk = 1
        )"""


def _q414_run_sql() -> str:
    """The run-statistics CTE block over ``dom`` (adj / per / tot) —
    q414 appends its per-(epoch, source) SELECT, q418's gate appends
    the pooled epoch-grain rollup, off ONE definition."""
    return """
        adj AS (
            SELECT c.epoch, c.step, c.source, p.source AS prev_source
            FROM dom c
            LEFT JOIN dom p ON c.epoch = p.epoch AND c.step = p.step + 1
        ),
        per AS (
            SELECT epoch, source,
                   CAST(COUNT(*) AS BIGINT) AS n_steps,
                   CAST(SUM(CASE WHEN prev_source IS NULL
                                   OR prev_source <> source
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
                   CAST(SUM(CASE WHEN prev_source = source
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS self_adj_pairs
            FROM adj GROUP BY 1, 2
        ),
        tot AS (
            SELECT epoch, CAST(COUNT(*) AS BIGINT) AS t
            FROM dom GROUP BY 1
        )"""


def _q414_oracle() -> str:
    return f"""
        WITH RECURSIVE
        {_q414_dom_sql()},
        {_q414_run_sql()}
        SELECT p.epoch, p.source, p.n_steps, p.n_runs,
               round(CAST(p.n_steps AS DOUBLE) / p.n_runs, 6)
                   AS mean_run_len,
               round(CAST(p.n_steps AS DOUBLE) / t.t, 6) AS step_share,
               p.self_adj_pairs,
               round((CAST(p.n_steps AS DOUBLE) / t.t)
                     * (CAST(p.n_steps AS DOUBLE) / t.t)
                     * (t.t - 1), 6) AS expected_self_adj,
               CASE WHEN t.t > 1 THEN
                   round(p.self_adj_pairs
                         / ((CAST(p.n_steps AS DOUBLE) / t.t)
                            * (CAST(p.n_steps AS DOUBLE) / t.t)
                            * (t.t - 1)), 6)
               END AS clumping_ratio
        FROM per p JOIN tot t ON p.epoch = t.epoch
    """


@query("q414_interleave_runlength_audit", oracle=_q414_oracle())
def q414_interleave_runlength_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the epoch shuffle actually INTERLEAVE sources, step by
    step? q342/q367 prove the epoch-grain mixture and q347 proves
    epoch-pair decorrelation, but a loader can hit both and still
    serve same-source BLOCKS inside an epoch (the batch-composition
    bias curriculum papers warn about: consecutive gradient steps see
    one domain). The audit attributes every step of q326's stream to
    its dominant-mass source, then measures contiguous run structure
    per (epoch, source): run count, mean run length, and realized
    same-source adjacent pairs vs the share^2 x pairs expectation of
    an independent shuffle — clumping_ratio ~ 1 is the pass signal.

    Scale shape: one doc_id-keyed join + two grouped counts + a
    (epoch, step)-bounded rank window; the lag is an equi-join on
    step + 1, never a global ordered window, so no stage scans an
    epoch single-task at 100 TB."""
    ordr = q326_order_checkpointed(spark, sf_dir)
    lens = _capped_doc_lens(spark, sf_dir)
    return _interleave_audit(_step_dominant_source(ordr, lens))


# ---------------------------------------------------------------------------
# q415 — batch-composition mixing entropy (step-window source diversity)
# ---------------------------------------------------------------------------

_Q415_BS = 32  # steps per optimizer batch (the audit's window)
_Q415_TOP = 0.5  # dominance alarm: one source above half the batch


def _batch_mixing(ordr: DataFrame, lens: DataFrame, bs: int) -> DataFrame:
    """Per (epoch, batch = (step-1) DIV bs) source-mixing audit over a
    (epoch, step, ...) replay stream: token mass per source inside
    each batch window, Shannon entropy of the batch's source shares
    (sequential-fold determinism: shares sorted then left-folded, the
    q260 README rule), the dominant source and its share, and a
    low_mixing alarm when one source carries more than
    {_Q415_TOP} of the batch."""
    from pyspark.sql import Window

    mass = (
        ordr.join(lens, "doc_id")
        .groupBy(
            "epoch",
            F.expr(f"CAST((step - 1) DIV {bs} AS BIGINT)").alias("batch"),
            "source",
        )
        .agg(F.sum("len").cast("long").alias("mass"))
        .localCheckpoint(eager=False)  # two consumers (top rank + entropy rollup)
    )
    wtop = Window.partitionBy("epoch", "batch").orderBy(
        F.desc("mass"), F.asc("source")
    )
    top = (
        mass.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") == 1)
        .select(
            "epoch",
            "batch",
            F.col("source").alias("top_source"),
            F.col("mass").alias("__topm"),
        )
    )
    per = mass.groupBy("epoch", "batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("mass").cast("long").alias("batch_tokens"),
        F.sort_array(F.collect_list(F.col("mass").cast("double"))).alias(
            "__cs"
        ),
    )
    t = F.col("batch_tokens").cast("double")
    fold = F.aggregate(
        "__cs",
        F.lit(0.0),
        lambda a, c: a + (c / t) * F.log(c / t),
    )
    return per.join(top, ["epoch", "batch"]).select(
        "epoch",
        "batch",
        "n_sources",
        "batch_tokens",
        F.round(F.lit(0.0) - fold, 6).alias("entropy_nats"),
        "top_source",
        F.round(F.col("__topm").cast("double") / t, 6).alias("top_share"),
        (F.col("__topm").cast("double") / t > _Q415_TOP).alias(
            "low_mixing"
        ),
    )


def _q415_batch_sql(bs: int, top: float) -> str:
    """The per-(epoch, batch) mixing rollup as SQL over the `ord`/
    `lens` CTEs of ``_q414_dom_sql`` — q415 appends a SELECT *, q418's
    gate appends a one-row aggregate."""
    return f"""
        bmass AS (
            SELECT o.epoch,
                   CAST((o.step - 1) // {bs} AS BIGINT) AS batch,
                   l.source, CAST(SUM(l.len) AS BIGINT) AS mass
            FROM ord o JOIN lens l ON o.doc_id = l.doc_id
            GROUP BY 1, 2, 3
        ),
        btop AS (
            SELECT epoch, batch, source AS top_source, mass AS topm
            FROM (
                SELECT epoch, batch, source, mass,
                       row_number() OVER (
                           PARTITION BY epoch, batch
                           ORDER BY mass DESC, source) AS rk
                FROM bmass
            ) WHERE rk = 1
        ),
        bper AS (
            SELECT epoch, batch,
                   CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(SUM(mass) AS BIGINT) AS batch_tokens,
                   list_sort(list(CAST(mass AS DOUBLE))) AS cs
            FROM bmass GROUP BY 1, 2
        ),
        bmix AS (
            SELECT p.epoch, p.batch, p.n_sources, p.batch_tokens,
                   round(0.0 - list_reduce(
                       list_transform(
                           cs,
                           x -> (x / CAST(p.batch_tokens AS DOUBLE))
                                * ln(x / CAST(p.batch_tokens AS DOUBLE))),
                       (a, b) -> a + b), 6) AS entropy_nats,
                   t.top_source,
                   round(CAST(t.topm AS DOUBLE)
                         / CAST(p.batch_tokens AS DOUBLE), 6) AS top_share,
                   (CAST(t.topm AS DOUBLE)
                    / CAST(p.batch_tokens AS DOUBLE) > {top}) AS low_mixing
            FROM bper p
            JOIN btop t ON p.epoch = t.epoch AND p.batch = t.batch
        )"""


def _q415_oracle() -> str:
    return f"""
        WITH RECURSIVE
        {_q414_dom_sql()},
        {_q415_batch_sql(_Q415_BS, _Q415_TOP)}
        SELECT epoch, batch, n_sources, batch_tokens, entropy_nats,
               top_source, top_share, low_mixing
        FROM bmix
    """


@query("q415_batch_mixing_entropy", oracle=_q415_oracle())
def q415_batch_mixing_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The grain an optimizer step actually SEES: group q326's replay
    stream into {_Q415_BS}-step batch windows and measure each batch's
    source composition — token mass per source, Shannon entropy of the
    shares (high = well-mixed batch, 0 = single-domain batch), the
    dominant source, and a low_mixing alarm when one source exceeds
    {_Q415_TOP} of the batch's tokens. Complements q414 (adjacency
    clumping) with the windowed view: a stream can alternate AB every
    step (clumping 0) and still feed 50%-A batches — and a gradient
    batch dominated by one domain is the bias the shuffle exists to
    prevent.

    Entropy determinism is the q260 sequential-fold rule: per-batch
    mass lists are sorted then left-folded p·ln(p) identically on
    both engines (ln is empirically bit-identical cross-engine; the
    unordered-SUM hazard never arises). Scale shape: everything keys
    on (epoch, batch) — grouped integer sums and a bounded rank
    window; batch count grows with corpus size, per-batch state is
    |sources| rows."""
    ordr = q326_order_checkpointed(spark, sf_dir)
    lens = _capped_doc_lens(spark, sf_dir)
    return _batch_mixing(ordr, lens, _Q415_BS)


# ---------------------------------------------------------------------------
# q416 — replay-spacing audit (how far apart are a sequence's repeats?)
# ---------------------------------------------------------------------------


def _q416_oracle() -> str:
    from databricks_etl_spark.plans.queries_round9 import _q326_oracle

    return f"""
        WITH ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        seqs AS (SELECT DISTINCT epoch, step, seq_id FROM ord),
        sizes AS (
            SELECT epoch, CAST(COUNT(*) AS BIGINT) AS c
            FROM seqs GROUP BY 1
        ),
        offs AS (
            SELECT epoch,
                   COALESCE(SUM(c) OVER (
                       ORDER BY epoch
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS o
            FROM sizes
        ),
        pos AS (
            SELECT s.epoch, s.seq_id, f.o + s.step AS pos
            FROM seqs s JOIN offs f ON s.epoch = f.epoch
        ),
        gaps AS (
            SELECT a.seq_id % 8 AS eclass,
                   a.epoch AS epoch_from, b.epoch AS epoch_to,
                   b.pos - a.pos AS gap
            FROM pos a
            JOIN pos b ON a.seq_id = b.seq_id AND b.epoch = a.epoch + 1
        )
        SELECT eclass, epoch_from, epoch_to,
               CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(MIN(gap) AS BIGINT) AS min_gap,
               CAST(MAX(gap) AS BIGINT) AS max_gap,
               round(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 6) AS mean_gap
        FROM gaps GROUP BY 1, 2, 3
    """


@query("q416_replay_spacing_audit", oracle=_q416_oracle())
def q416_replay_spacing_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spaced repetition for the multi-epoch sequences: when q323
    budgets a source more than one epoch, HOW FAR APART does the
    loader replay each sequence? Back-to-back repeats (small gaps)
    are the memorization-risk pattern data-constrained-scaling work
    flags; well-spread repeats are the benign one. Every sequence's
    replay positions are laid on ONE global step axis (per-epoch step
    plus the exact cumulative size of all earlier epochs — epochs
    shrink as eclasses retire, so the offsets are data, not
    arithmetic), and consecutive-epoch gaps roll up per (eclass,
    epoch pair): n_seqs, min/max gap, exact-integer mean gap.

    Scale shape: the offsets relation is |epochs| <= 8 rows (the only
    ordered window, trivially broadcast); everything else is a
    seq_id-keyed self-join between adjacent epochs and an integer
    aggregate — min_gap is the headline number a training engineer
    reads (the closest ANY sequence's two replays ever get)."""
    from pyspark.sql import Window

    ordr = q326_order_checkpointed(spark, sf_dir)
    # seqs fans into sizes + pos, and pos into both join sides —
    # checkpoint the distinct so the shuffle runs once
    seqs = (
        ordr.select("epoch", "step", "seq_id").distinct().localCheckpoint(eager=False)
    )
    sizes = seqs.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    woff = Window.orderBy("epoch").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = sizes.select(
        "epoch",
        F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("o"),
    )
    pos = seqs.join(F.broadcast(offs), "epoch").select(
        "epoch", "seq_id", (F.col("o") + F.col("step")).alias("pos")
    )
    a = pos.select(
        "seq_id",
        F.col("epoch").alias("epoch_from"),
        F.col("pos").alias("__pa"),
    )
    b = pos.select(
        "seq_id",
        F.col("epoch").alias("epoch_to"),
        F.col("pos").alias("__pb"),
    )
    gaps = a.join(b, "seq_id").filter(
        F.col("epoch_to") == F.col("epoch_from") + 1
    )
    return (
        gaps.select(
            (F.col("seq_id") % 8).alias("eclass"),
            "epoch_from",
            "epoch_to",
            (F.col("__pb") - F.col("__pa")).alias("gap"),
        )
        .groupBy("eclass", "epoch_from", "epoch_to")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.min("gap").cast("long").alias("min_gap"),
            F.max("gap").cast("long").alias("max_gap"),
            F.round(
                F.sum("gap").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_gap"),
        )
    )


# ---------------------------------------------------------------------------
# q417 — small-file compaction planner (ordered coalesce into target splits)
# ---------------------------------------------------------------------------

_Q417_TGT = 256  # target rows per compacted split (byte-size stand-in)
_Q417_BKT = 8  # days per cumsum bucket (two-phase distributed prefix sum)


@query(
    "q417_compaction_plan",
    # bench rotation r15: out for q619 (iterative-relaxation class);
    # q189 stays as the compaction-family bench representative
    oracle=f"""
        WITH f AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS rws
            FROM events GROUP BY 1, 2
        ),
        fb AS (
            SELECT event_type, d, rws,
                   datediff('day', DATE '1970-01-01', d) // {_Q417_BKT}
                       AS bucket
            FROM f
        ),
        parts AS (
            SELECT event_type, bucket, CAST(SUM(rws) AS BIGINT) AS s
            FROM fb GROUP BY 1, 2
        ),
        boff AS (
            SELECT event_type, bucket,
                   COALESCE(SUM(s) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS bo
            FROM parts
        ),
        cb AS (
            SELECT fb.event_type, fb.d, fb.rws,
                   b.bo + COALESCE(SUM(fb.rws) OVER (
                       PARTITION BY fb.event_type, fb.bucket
                       ORDER BY fb.d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before
            FROM fb
            JOIN boff b ON fb.event_type = b.event_type
                       AND fb.bucket = b.bucket
        )
        SELECT event_type,
               CAST(cum_before // {_Q417_TGT} AS BIGINT) AS split_id,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(rws) AS BIGINT) AS split_rows,
               CAST(MIN(d) AS TIMESTAMP) AS first_day,
               CAST(MAX(d) AS TIMESTAMP) AS last_day,
               (SUM(rws) > {_Q417_TGT}) AS over_target
        FROM cb GROUP BY 1, 2
    """,
)
def q417_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file problem, planned away: streaming ingest lands one
    file per (event_type, day) — at 100 TB that's millions of
    kilobyte-grain files whose per-file open/footer cost dominates the
    scan. The planner coalesces TIME-ADJACENT daily files into splits
    of ~{_Q417_TGT} rows (row counts stand in for bytes — same plan,
    different unit) WITHOUT breaking day order, so date predicates
    still prune compacted splits by (first_day, last_day) zone — the
    ordered-coalesce discipline of Delta OPTIMIZE, stated as a pure
    plan relation: split_id = floor(prefix_rows / target) over the
    day-ordered prefix sum, so a split overflows the target by at
    most one file (floor-binning never splits a file).

    The prefix sum is TWO-PHASE, never a single global window: files
    bucket by day-index DIV {_Q417_BKT}, per-bucket partials take a
    tiny per-source ordered window ({_Q417_BKT}x smaller than the file
    count), and each file adds its within-bucket prefix to the
    broadcast bucket offset — the q326 distributed-rank discipline
    applied to cumsum. Output is the compaction manifest a rewrite
    job executes: files per split, exact split rows, covering day
    range, over-target flag."""
    return _split_rollup(_file_prefix_sums(_daily_files(spark, sf_dir)))


def _daily_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-file model: one (event_type, day) file with its row
    count — q417 plans over it, q419 audits pruning against it, q420
    maintains it incrementally, the q421 stream accumulates it as
    associative day-count partials."""
    return (
        read_table(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("rws"))
    )


def _file_prefix_sums(
    files: DataFrame, base_offsets: DataFrame | None = None
) -> DataFrame:
    """(event_type, d, rws, cum_before): the day-ordered exclusive
    prefix sum, computed two-phase (per-bucket partials + broadcast
    bucket offsets — never one global ordered window). When
    ``base_offsets`` (event_type, base) is given, every prefix starts
    from that frozen total — q420's incremental path appends a delta
    AFTER a persisted plan without recomputing its prefix."""
    from pyspark.sql import Window

    fb = files.withColumn(
        "bucket",
        F.expr(
            f"CAST(datediff(d, DATE '1970-01-01') DIV {_Q417_BKT}"
            " AS BIGINT)"
        ),
    )
    parts = fb.groupBy("event_type", "bucket").agg(
        F.sum("rws").cast("long").alias("s")
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = parts.select(
        "event_type",
        "bucket",
        F.coalesce(F.sum("s").over(wb), F.lit(0)).alias("bo"),
    )
    if base_offsets is not None:
        boff = boff.join(F.broadcast(base_offsets), "event_type").select(
            "event_type",
            "bucket",
            (F.col("bo") + F.col("base")).alias("bo"),
        )
    wf = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return fb.join(F.broadcast(boff), ["event_type", "bucket"]).select(
        "event_type",
        "d",
        "rws",
        (
            F.col("bo") + F.coalesce(F.sum("rws").over(wf), F.lit(0))
        ).alias("cum_before"),
    )


def _split_rollup(cb: DataFrame) -> DataFrame:
    """Prefix-summed files → the split manifest (floor-binning by the
    row target)."""
    return cb.groupBy(
        "event_type",
        F.expr(f"CAST(cum_before DIV {_Q417_TGT} AS BIGINT)").alias(
            "split_id"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("rws").cast("long").alias("split_rows"),
        F.min("d").cast("timestamp").alias("first_day"),
        F.max("d").cast("timestamp").alias("last_day"),
        (F.sum("rws") > _Q417_TGT).alias("over_target"),
    )


# ---------------------------------------------------------------------------
# q418 — fail-closed dataloader gate (mixing ∧ clumping ∧ decorrelation)
# ---------------------------------------------------------------------------

_Q418_MIN_ENTROPY = 1.5  # nats; sf0.01 batches sit at 2.1-3.0
_Q418_MAX_CLUMP = 2.0  # pooled clumping ratio; ~1.0 under a fair shuffle
_Q418_MAX_CORR = 0.7  # |epoch-pair step corr|; 1/sqrt(n) noise at small n


def _q418_oracle() -> str:
    return f"""
        WITH RECURSIVE
        {_q414_dom_sql()},
        {_q414_run_sql()},
        {_q415_batch_sql(_Q415_BS, _Q415_TOP)},
        pool AS (
            SELECT epoch,
                   CAST(SUM(self_adj_pairs) AS BIGINT) AS sa,
                   CAST(SUM(n_steps * n_steps) AS BIGINT) AS sn2,
                   CAST(SUM(n_steps) AS BIGINT) AS t
            FROM per GROUP BY 1
        ),
        cseqs AS (SELECT DISTINCT epoch, seq_id, step FROM ord),
        cmom AS (
            SELECT a.epoch AS ea, b.epoch AS eb,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(a.step AS DECIMAL(18,0))) AS sx,
                   SUM(CAST(b.step AS DECIMAL(18,0))) AS sy,
                   SUM(CAST(a.step AS DECIMAL(18,0))
                       * CAST(b.step AS DECIMAL(18,0))) AS sxy,
                   SUM(CAST(a.step AS DECIMAL(18,0))
                       * CAST(a.step AS DECIMAL(18,0))) AS sx2,
                   SUM(CAST(b.step AS DECIMAL(18,0))
                       * CAST(b.step AS DECIMAL(18,0))) AS sy2
            FROM cseqs a
            JOIN cseqs b ON a.seq_id = b.seq_id AND a.epoch < b.epoch
            GROUP BY 1, 2
        ),
        ccorr AS (
            SELECT round((n * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (sqrt(n * CAST(sx2 AS DOUBLE)
                                 - CAST(sx AS DOUBLE)
                                   * CAST(sx AS DOUBLE))
                            * sqrt(n * CAST(sy2 AS DOUBLE)
                                   - CAST(sy AS DOUBLE)
                                     * CAST(sy AS DOUBLE))),
                         6) AS r
            FROM cmom WHERE n >= 2
        ),
        c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_steps_total FROM dom),
        c2 AS (SELECT MIN(entropy_nats) AS min_batch_entropy FROM bmix),
        c3 AS (
            SELECT MAX(CASE WHEN t > 1 THEN
                       round(CAST(sa AS DOUBLE) * t * t
                             / (CAST(t - 1 AS DOUBLE) * sn2), 6)
                   END) AS max_clumping_pooled
            FROM pool
        ),
        c4 AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_epoch_pairs,
                   MAX(abs(r)) AS max_abs_step_corr
            FROM ccorr
        )
        SELECT c1.n_steps_total, c2.min_batch_entropy,
               c3.max_clumping_pooled, c4.n_epoch_pairs,
               c4.max_abs_step_corr,
               (c1.n_steps_total > 0) AS check_nonempty,
               COALESCE(c2.min_batch_entropy >= {_Q418_MIN_ENTROPY},
                        FALSE) AS check_mixing,
               COALESCE(c3.max_clumping_pooled <= {_Q418_MAX_CLUMP},
                        FALSE) AS check_clumping,
               (c4.n_epoch_pairs = 0
                OR COALESCE(c4.max_abs_step_corr <= {_Q418_MAX_CORR},
                            FALSE)) AS check_decorrelation,
               CASE WHEN c1.n_steps_total > 0
                     AND COALESCE(c2.min_batch_entropy
                                  >= {_Q418_MIN_ENTROPY}, FALSE)
                     AND COALESCE(c3.max_clumping_pooled
                                  <= {_Q418_MAX_CLUMP}, FALSE)
                     AND (c4.n_epoch_pairs = 0
                          OR COALESCE(c4.max_abs_step_corr
                                      <= {_Q418_MAX_CORR}, FALSE))
                    THEN 'SHIP' ELSE 'HOLD' END AS verdict
        FROM c1, c2, c3, c4
    """


def _q418_gate(
    ordr: DataFrame,
    lens: DataFrame,
    *,
    min_entropy: float = _Q418_MIN_ENTROPY,
    max_clump: float = _Q418_MAX_CLUMP,
    max_corr: float = _Q418_MAX_CORR,
) -> DataFrame:
    """The gate kernel over an explicit (ordr, lens) pair — planted
    tests feed adversarial streams; q418 feeds q326's production
    stream. Thresholds are kwargs so a planted violation flips ONE
    knob (the q386/q395/q408 gate-family discipline)."""
    from databricks_etl_spark.plans.queries_round10 import (
        _epoch_step_corr,
    )

    steps = _step_dominant_source(ordr, lens)
    per = _interleave_audit(steps)
    pool = per.groupBy("epoch").agg(
        F.sum("self_adj_pairs").cast("long").alias("sa"),
        F.sum(F.col("n_steps") * F.col("n_steps"))
        .cast("long")
        .alias("sn2"),
        F.sum("n_steps").cast("long").alias("t"),
    )
    clump = F.when(
        F.col("t") > 1,
        F.round(
            F.col("sa").cast("double") * F.col("t") * F.col("t")
            / ((F.col("t") - 1).cast("double") * F.col("sn2")),
            6,
        ),
    )
    corr = _epoch_step_corr(
        ordr.select("epoch", "seq_id", "step").distinct()
    )
    c1 = steps.agg(
        F.count(F.lit(1)).cast("long").alias("n_steps_total")
    )
    c2 = _batch_mixing(ordr, lens, _Q415_BS).agg(
        F.min("entropy_nats").alias("min_batch_entropy")
    )
    c3 = pool.agg(F.max(clump).alias("max_clumping_pooled"))
    c4 = corr.agg(
        F.count(F.lit(1)).cast("long").alias("n_epoch_pairs"),
        F.max(F.abs(F.col("step_correlation"))).alias(
            "max_abs_step_corr"
        ),
    )
    g = c1.crossJoin(c2).crossJoin(c3).crossJoin(c4)
    ck_ne = F.col("n_steps_total") > 0
    ck_mix = F.coalesce(
        F.col("min_batch_entropy") >= min_entropy, F.lit(False)
    )
    ck_cl = F.coalesce(
        F.col("max_clumping_pooled") <= max_clump, F.lit(False)
    )
    ck_dc = (F.col("n_epoch_pairs") == 0) | F.coalesce(
        F.col("max_abs_step_corr") <= max_corr, F.lit(False)
    )
    return g.select(
        "n_steps_total",
        "min_batch_entropy",
        "max_clumping_pooled",
        "n_epoch_pairs",
        "max_abs_step_corr",
        ck_ne.alias("check_nonempty"),
        ck_mix.alias("check_mixing"),
        ck_cl.alias("check_clumping"),
        ck_dc.alias("check_decorrelation"),
        F.when(ck_ne & ck_mix & ck_cl & ck_dc, F.lit("SHIP"))
        .otherwise(F.lit("HOLD"))
        .alias("verdict"),
    )


@query("q418_dataloader_gate", oracle=_q418_oracle())
def q418_dataloader_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fail-closed SERVING gate that fronts q326's stream: one
    verdict row a launch pipeline reads before pointing trainers at
    the artifact — batch mixing (q415's minimum batch entropy >=
    {_Q418_MIN_ENTROPY} nats), interleave clumping (q414's
    same-source adjacency POOLED per epoch <= {_Q418_MAX_CLUMP}; the
    pooled form SUM(self_adj) * t^2 / ((t-1) * SUM(n^2)) keeps every
    moment an exact BIGINT so no unordered float sum exists), and
    epoch decorrelation (q347's |step correlation| <=
    {_Q418_MAX_CORR}, vacuously true when nothing repeats). Empty
    stream, missing batches, or an undefined metric all COALESCE to
    failed checks — HOLD, never silently SHIP (the q386/q395/q408
    fail-closed discipline; this completes the gate family across
    the four ship surfaces: corpus, tokenizer, plan, loader).

    The oracle restates all three checks in ONE statement off a
    single MATERIALIZED stream CTE (q414's dom block + q415's batch
    block + q347's exact-decimal moments), so the gate cannot drift
    from the audit lanes it summarizes; the Spark side reuses those
    lanes' kernels on one localCheckpoint'd stream for the same
    reason."""
    ordr = q326_order_checkpointed(spark, sf_dir)
    lens = _capped_doc_lens(spark, sf_dir)
    return _q418_gate(ordr, lens)


_ORDER_CACHE: dict = {}


def q326_order_checkpointed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q326's stream, localCheckpoint'd and SESSION-CACHED: five
    registered lanes consume it (q414/q415/q416 audits, q418's gate,
    q423's exposure join), and q418 alone fans it into four check
    branches — without memoization every consumer re-derives the FFD
    packing and the manifest (the q387/q400 multi-consumer rule plus
    the _learned()/_GATE_CACHE read-through discipline: keyed on
    (application, sf_dir), byte-identical with or without)."""
    import os as _os

    from databricks_etl_spark.plans.queries_round9 import (
        q326_dataloader_order,
    )

    key = (
        spark.sparkContext.applicationId,
        _os.path.realpath(sf_dir),
    )
    if key not in _ORDER_CACHE:
        _ORDER_CACHE[key] = q326_dataloader_order(
            spark, sf_dir
        ).localCheckpoint(eager=False)
    return _ORDER_CACHE[key]


# ---------------------------------------------------------------------------
# q419 — compaction pruning tradeoff (files saved vs rows over-scanned)
# ---------------------------------------------------------------------------

# the audited query workload: day-grain time windows over January
_Q419_WINDOWS = [
    (1, "2024-01-05", "2024-01-08"),
    (2, "2024-01-10", "2024-01-20"),
    (3, "2024-01-15", "2024-01-16"),
    (4, "2024-01-25", "2024-02-01"),
]


def _daily_files_sql() -> str:
    return """
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS rws
            FROM events GROUP BY 1, 2"""


def _q419_ctes() -> str:
    """q419's CTE chain over pre-defined ``plan``/``f`` relations,
    ending in ``tr`` (the tradeoff rows) — q419 selects it whole,
    q425's layout gate aggregates it, off ONE definition."""
    vals = ", ".join(
        f"({wid}, DATE '{lo}', DATE '{hi}')"
        for wid, lo, hi in _Q419_WINDOWS
    )
    return f"""
        w(wid, lo, hi) AS (VALUES {vals}),
        pre AS (
            SELECT f.event_type, w.wid,
                   CAST(COUNT(*) AS BIGINT) AS n_files_before,
                   CAST(SUM(f.rws) AS BIGINT) AS rows_useful
            FROM f JOIN w ON f.d >= w.lo AND f.d < w.hi
            GROUP BY 1, 2
        ),
        post AS (
            SELECT p.event_type, w.wid,
                   CAST(COUNT(*) AS BIGINT) AS n_splits_after,
                   CAST(SUM(p.split_rows) AS BIGINT)
                       AS rows_scanned_after
            FROM plan p
            JOIN w ON CAST(p.first_day AS DATE) < w.hi
                  AND CAST(p.last_day AS DATE) >= w.lo
            GROUP BY 1, 2
        ),
        tr AS (
            SELECT b.event_type, CAST(b.wid AS BIGINT) AS window_id,
                   b.n_files_before, a.n_splits_after,
                   b.rows_useful, a.rows_scanned_after,
                   round(CAST(a.rows_scanned_after AS DOUBLE)
                         / b.rows_useful, 6) AS read_amplification,
                   round(1.0 - CAST(a.n_splits_after AS DOUBLE)
                               / b.n_files_before, 6)
                       AS files_saved_share
            FROM pre b
            JOIN post a ON b.event_type = a.event_type AND b.wid = a.wid
        )"""


def _q419_oracle() -> str:
    o417 = QUERIES["q417_compaction_plan"].oracle
    return f"""
        WITH plan AS MATERIALIZED (SELECT * FROM ({o417})),
        f AS ({_daily_files_sql()}),
        {_q419_ctes()}
        SELECT * FROM tr
    """


@query("q419_compaction_pruning_tradeoff", oracle=_q419_oracle())
def q419_compaction_pruning_tradeoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What q417's compaction COSTS the reader: coalescing daily files
    into multi-day splits cuts file-open overhead but coarsens the
    (first_day, last_day) pruning zones — a day-grain predicate now
    drags in every row of each overlapping split. For a literal
    4-window query workload, per (event_type, window): files touched
    before vs splits touched after, exact useful rows vs rows a
    zone-pruned scan of the compacted layout reads, the
    read-amplification ratio, and the file-open savings share. The
    two numbers move oppositely by construction — this lane puts the
    actual tradeoff curve in front of whoever tunes the
    {_Q417_TGT}-row target (a narrow window pays ~split/window rows
    of amplification; a wide window pays ~1 and banks the file
    savings).

    Scale shape: the plan relation is |splits| rows, the workload is
    a literal broadcast — both joins are map-side; the audit never
    rescans events beyond the one daily-file rollup q417 already
    does."""
    return _q419_tradeoff(
        spark, _daily_files(spark, sf_dir), q417_compaction_plan(spark, sf_dir)
    )


def _q419_tradeoff(
    spark: SparkSession, files: DataFrame, plan: DataFrame
) -> DataFrame:
    """q419's tradeoff rows over explicit (files, plan) relations —
    q425's layout gate feeds checkpointed ones."""
    import datetime as _dt

    w = spark.createDataFrame(
        [
            (
                wid,
                _dt.date.fromisoformat(lo),
                _dt.date.fromisoformat(hi),
            )
            for wid, lo, hi in _Q419_WINDOWS
        ],
        "wid long, lo date, hi date",
    )
    pre = (
        files.join(
            F.broadcast(w),
            (F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")),
        )
        .groupBy("event_type", "wid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files_before"),
            F.sum("rws").cast("long").alias("rows_useful"),
        )
    )
    post = (
        plan.join(
            F.broadcast(w),
            (F.to_date("first_day") < F.col("hi"))
            & (F.to_date("last_day") >= F.col("lo")),
        )
        .groupBy("event_type", "wid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_splits_after"),
            F.sum("split_rows").cast("long").alias("rows_scanned_after"),
        )
    )
    return pre.join(post, ["event_type", "wid"]).select(
        "event_type",
        F.col("wid").alias("window_id"),
        "n_files_before",
        "n_splits_after",
        "rows_useful",
        "rows_scanned_after",
        F.round(
            F.col("rows_scanned_after").cast("double")
            / F.col("rows_useful"),
            6,
        ).alias("read_amplification"),
        F.round(
            1.0
            - F.col("n_splits_after").cast("double")
            / F.col("n_files_before"),
            6,
        ).alias("files_saved_share"),
    )


# ---------------------------------------------------------------------------
# q420 — incremental compaction maintenance (append-only delta days)
# ---------------------------------------------------------------------------

_Q420_CUTOFF = "2024-01-25"  # days >= cutoff are the arriving delta


def _q420_oracle() -> str:
    o417 = QUERIES["q417_compaction_plan"].oracle
    return f"""
        SELECT p.event_type, p.split_id, p.n_files, p.split_rows,
               p.first_day, p.last_day, p.over_target,
               (CAST(p.last_day AS DATE) >= DATE '{_Q420_CUTOFF}')
                   AS split_touched
        FROM ({o417}) p
    """


@query("q420_incremental_compaction", oracle=_q420_oracle())
def q420_incremental_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compaction planning maintained INCREMENTALLY as ingest appends
    days — the q343/q363/q384 delta discipline applied to q417: the
    persisted plan's per-type ROW TOTAL is the frozen artifact (one
    number per event_type), arriving days prefix-sum from that base
    (``_file_prefix_sums(base_offsets=...)``), and because q417's
    split ids are floor(prefix / target) over an axis that only ever
    EXTENDS, every persisted split except possibly the boundary one
    is untouched — the merge is a split-grain additive rollup
    (counts add, day ranges union), never a rescan of old files.
    Delta work is |delta days| + |persisted splits| rows, independent
    of history length.

    The oracle IS the from-scratch rebuild over all days (q417's own
    SQL) plus the touched flag — the incremental path must and does
    reproduce it exactly; a test additionally pins untouched split
    rows byte-identical to the persisted plan."""
    parts = _q420_parts(spark, sf_dir)
    merged = (
        parts["persisted"]
        .select(
            "event_type",
            "split_id",
            "n_files",
            "split_rows",
            "first_day",
            "last_day",
        )
        .unionByName(
            parts["delta"].select(
                "event_type",
                "split_id",
                "n_files",
                "split_rows",
                "first_day",
                "last_day",
            )
        )
        .groupBy("event_type", "split_id")
        .agg(
            F.sum("n_files").cast("long").alias("n_files"),
            F.sum("split_rows").cast("long").alias("split_rows"),
            F.min("first_day").alias("first_day"),
            F.max("last_day").alias("last_day"),
        )
        .withColumn("over_target", F.col("split_rows") > _Q417_TGT)
    )
    touched = parts["delta"].select(
        "event_type", "split_id", F.lit(True).alias("__t")
    )
    return merged.join(
        touched, ["event_type", "split_id"], "left"
    ).select(
        "event_type",
        "split_id",
        "n_files",
        "split_rows",
        "first_day",
        "last_day",
        "over_target",
        F.coalesce(F.col("__t"), F.lit(False)).alias("split_touched"),
    )


def _q420_parts(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """q420's moving parts, exposed for the untouched-shard pin test:
    ``persisted`` — the plan over pre-cutoff days (stands in for
    reading the artifact back, the q327 convention; localCheckpoint'd
    as frozen); ``delta`` — the arriving days' split rows computed
    from the frozen per-type row totals."""
    files = _daily_files(spark, sf_dir).localCheckpoint(eager=False)
    cutoff = F.lit(_Q420_CUTOFF).cast("date")
    old = files.filter(F.col("d") < cutoff)
    delta = files.filter(F.col("d") >= cutoff)
    persisted = _split_rollup(_file_prefix_sums(old)).localCheckpoint(eager=False)
    base = old.groupBy("event_type").agg(
        F.sum("rws").cast("long").alias("base")
    )
    delta_plan = _split_rollup(_file_prefix_sums(delta, base_offsets=base))
    return {"persisted": persisted, "delta": delta_plan}


# ---------------------------------------------------------------------------
# q421 — STREAMING compaction planning (q417 at ingest)
# ---------------------------------------------------------------------------


def _q421_register() -> None:
    @query(
        "q421_streaming_compaction",
        oracle=QUERIES["q417_compaction_plan"].oracle,
    )
    def q421_streaming_compaction(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """q417's split manifest maintained AT INGEST — the q361/q385/
        q390/q407 streaming discipline applied to layout planning:
        day-grain file row counts are fully associative, so each
        events micro-batch lands a (event_type, day) count PARTIAL in
        the epoch-idempotent sink (``streaming/compaction.py``), and
        the drain sums partials back to exact daily sizes and runs
        the SAME ``_file_prefix_sums``/``_split_rollup`` kernels the
        batch lane uses. Registered with q417's own oracle: the
        streamed plan is hash-proven equal to the batch plan.
        Slicing invariance and epoch replay are tested like q390's.

        The production story: the compaction service never rescans
        history — it keeps day-count partials as events arrive and
        re-derives the (tiny) manifest on demand; state per epoch is
        |event_types| x |days touched| rows."""
        from databricks_etl_spark.streaming.compaction import (
            run_streaming_compaction,
        )

        return run_streaming_compaction(spark, sf_dir)


_q421_register()


# ---------------------------------------------------------------------------
# q422 — late-data rewrite cost: floor-binned vs week-aligned compaction
# ---------------------------------------------------------------------------

_Q422_CANDS = ["2024-01-03", "2024-01-10", "2024-01-17", "2024-01-24"]


def _q422_ctes() -> str:
    """q422's CTE chain over pre-defined ``plan``/``f``, ending in
    ``rc`` (the rewrite-cost rows) — shared with q425's gate."""
    vals = ", ".join(f"(DATE '{c}')" for c in _Q422_CANDS)
    return f"""
        aw AS (
            SELECT event_type, d, rws,
                   datediff('day', DATE '1970-01-01', d) // 7 AS wk
            FROM f
        ),
        ac AS (
            SELECT event_type, d, wk,
                   COALESCE(SUM(rws) OVER (
                       PARTITION BY event_type, wk ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cumw
            FROM aw
        ),
        asp AS (
            SELECT event_type, wk, cumw // {_Q417_TGT} AS sid,
                   MAX(d) AS ld
            FROM ac GROUP BY 1, 2, 3
        ),
        cands(cd) AS (VALUES {vals}),
        g AS (
            SELECT p.event_type, c.cd,
                   CAST(COUNT(*) AS BIGINT) AS n_splits_global,
                   CAST(SUM(CASE WHEN CAST(p.last_day AS DATE) >= c.cd
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rewritten_global
            FROM plan p CROSS JOIN cands c GROUP BY 1, 2
        ),
        a AS (
            SELECT s.event_type, c.cd,
                   CAST(COUNT(*) AS BIGINT) AS n_splits_aligned,
                   CAST(SUM(CASE WHEN s.wk = datediff('day',
                                     DATE '1970-01-01', c.cd) // 7
                                  AND s.ld >= c.cd
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rewritten_aligned
            FROM asp s CROSS JOIN cands c GROUP BY 1, 2
        ),
        rc AS (
            SELECT g.event_type, CAST(g.cd AS TIMESTAMP) AS late_day,
                   g.n_splits_global, g.n_rewritten_global,
                   round(CAST(g.n_rewritten_global AS DOUBLE)
                         / g.n_splits_global, 6)
                       AS rewrite_share_global,
                   a.n_splits_aligned, a.n_rewritten_aligned,
                   round(CAST(a.n_rewritten_aligned AS DOUBLE)
                         / a.n_splits_aligned, 6)
                       AS rewrite_share_aligned
            FROM g JOIN a ON g.event_type = a.event_type AND g.cd = a.cd
        )"""


def _q422_oracle() -> str:
    o417 = QUERIES["q417_compaction_plan"].oracle
    return f"""
        WITH plan AS MATERIALIZED (SELECT * FROM ({o417})),
        f AS ({_daily_files_sql()}),
        {_q422_ctes()}
        SELECT * FROM rc
    """


@query("q422_late_data_rewrite_cost", oracle=_q422_oracle())
def q422_late_data_rewrite_cost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q420 proves APPEND-only maintenance is cheap; this lane prices
    the case q420 excludes — a LATE day landing mid-history. Under
    q417's global floor-binning, inserting rows at day D shifts every
    later file's prefix, so every split from D onward rewrites (the
    blast radius is unbounded in history length). The standard fix is
    ALIGNED binning: reset the prefix at week boundaries so a late
    day can only rewrite splits inside its own week. For four literal
    late-day candidates, per event_type: splits rewritten and the
    rewrite share under both layouts — alongside the price of
    alignment (more, smaller splits: n_splits_aligned >=
    n_splits_global, since every week boundary forces a split break).
    With q419 this completes the compaction design space: target size
    vs pruning vs rewrite isolation.

    Scale shape: the aligned prefix windows are (event_type, week)
    partitions — at most 7 rows each, embarrassingly parallel (the
    global plan keeps the two-phase sum); candidates are a 4-row
    broadcast; outputs are |event_types| x |candidates| rows."""
    return _q422_cost(
        spark, _daily_files(spark, sf_dir), q417_compaction_plan(spark, sf_dir)
    )


def _q422_cost(
    spark: SparkSession, files: DataFrame, plan: DataFrame
) -> DataFrame:
    """q422's rewrite-cost rows over explicit (files, plan) relations
    — shared with q425's layout gate."""
    import datetime as _dt

    from pyspark.sql import Window

    cands = spark.createDataFrame(
        [(_dt.date.fromisoformat(c),) for c in _Q422_CANDS], "cd date"
    )
    g = (
        plan.crossJoin(F.broadcast(cands))
        .groupBy("event_type", "cd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_splits_global"),
            F.sum(
                F.when(F.to_date("last_day") >= F.col("cd"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_rewritten_global"),
        )
    )
    aw = files.withColumn(
        "wk",
        F.expr("CAST(datediff(d, DATE '1970-01-01') DIV 7 AS BIGINT)"),
    )
    wcum = (
        Window.partitionBy("event_type", "wk")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    asp = (
        aw.withColumn(
            "cumw", F.coalesce(F.sum("rws").over(wcum), F.lit(0))
        )
        .groupBy(
            "event_type",
            "wk",
            F.expr(f"CAST(cumw DIV {_Q417_TGT} AS BIGINT)").alias("sid"),
        )
        .agg(F.max("d").alias("ld"))
    )
    a = (
        asp.crossJoin(F.broadcast(cands))
        .groupBy("event_type", "cd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_splits_aligned"),
            F.sum(
                F.when(
                    (
                        F.col("wk")
                        == F.expr(
                            "CAST(datediff(cd, DATE '1970-01-01')"
                            " DIV 7 AS BIGINT)"
                        )
                    )
                    & (F.col("ld") >= F.col("cd")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_rewritten_aligned"),
        )
    )
    return g.join(a, ["event_type", "cd"]).select(
        "event_type",
        F.col("cd").cast("timestamp").alias("late_day"),
        "n_splits_global",
        "n_rewritten_global",
        F.round(
            F.col("n_rewritten_global").cast("double")
            / F.col("n_splits_global"),
            6,
        ).alias("rewrite_share_global"),
        "n_splits_aligned",
        "n_rewritten_aligned",
        F.round(
            F.col("n_rewritten_aligned").cast("double")
            / F.col("n_splits_aligned"),
            6,
        ).alias("rewrite_share_aligned"),
    )


# ---------------------------------------------------------------------------
# q423 — dup-adjacency exposure: are near-dups served close together?
# ---------------------------------------------------------------------------

_Q423_W = 32  # "close" = within one q415 batch window


def _q423_oracle() -> str:
    from databricks_etl_spark.plans.queries_dedup import _PAIRS_05
    from databricks_etl_spark.plans.queries_round9 import _q326_oracle

    return f"""
        WITH RECURSIVE {_PAIRS_05},
        ord AS MATERIALIZED (SELECT * FROM ({_q326_oracle()})),
        pos AS MATERIALIZED (
            SELECT o.epoch, o.step, o.doc_id, cc.component
            FROM ord o JOIN cc ON o.doc_id = cc.id
        ),
        pp AS (
            SELECT a.epoch,
                   CAST(abs(a.step - b.step) AS BIGINT) AS dist
            FROM pos a
            JOIN pos b ON a.epoch = b.epoch
                      AND a.component = b.component
                      AND a.doc_id < b.doc_id
        )
        SELECT epoch,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN dist <= {_Q423_W} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_close_pairs,
               round(CAST(SUM(CASE WHEN dist <= {_Q423_W}
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS close_share,
               CAST(MIN(dist) AS BIGINT) AS min_dist,
               round(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 6)
                   AS mean_dist
        FROM pp GROUP BY 1
    """


@query("q423_dup_exposure_audit", oracle=_q423_oracle())
def q423_dup_exposure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memorization-adjacency audit: q312's ship gate prunes
    SEMANTIC duplicates (q285) but deliberately ships q123's
    text-Jaccard near-dup clusters (soft-dedup keeps them, q321) — so
    the stream DOES serve near-duplicate pairs, and what matters to a
    trainer is HOW CLOSE together: two near-dups inside one gradient
    window double-count their shared text exactly where repetition
    hurts most, while the same pair a half-epoch apart is benign
    spaced repetition (q416's argument, at the duplicate grain). Per
    epoch, over every same-cluster pair the stream serves: pair
    count, pairs within {_Q423_W} steps, the close share, and the
    min/mean step distance — the numbers a shuffle must keep honest
    because packing CONCENTRATES near-dups (same eclass, often the
    same shard) even when the step permutation is fair.

    Scale shape: pairs exist only inside dup clusters (cluster-size-
    bounded fan-out, the q123 argument); the stream join is
    doc_id-keyed; the component self-join keys on (epoch,
    component)."""
    from databricks_etl_spark.plans.queries_dedup import q123_dup_clusters

    cc = q123_dup_clusters(spark, sf_dir)
    ordr = q326_order_checkpointed(spark, sf_dir)
    pos = (
        ordr.join(cc, "doc_id")
        .select("epoch", "step", "doc_id", "component")
        .localCheckpoint(eager=False)  # both sides of the pair self-join
    )
    a = pos.select(
        "epoch",
        "component",
        F.col("doc_id").alias("__da"),
        F.col("step").alias("__sa"),
    )
    b = pos.select(
        "epoch",
        "component",
        F.col("doc_id").alias("__db"),
        F.col("step").alias("__sb"),
    )
    pp = a.join(b, ["epoch", "component"]).filter(
        F.col("__da") < F.col("__db")
    )
    dist = F.abs(F.col("__sa") - F.col("__sb")).cast("long")
    n = F.count(F.lit(1))
    return pp.select("epoch", dist.alias("dist")).groupBy("epoch").agg(
        n.cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist") <= _Q423_W, 1).otherwise(0))
        .cast("long")
        .alias("n_close_pairs"),
        F.round(
            F.sum(F.when(F.col("dist") <= _Q423_W, 1).otherwise(0)).cast(
                "double"
            )
            / n,
            6,
        ).alias("close_share"),
        F.min("dist").cast("long").alias("min_dist"),
        F.round(F.sum("dist").cast("double") / n, 6).alias("mean_dist"),
    )


# ---------------------------------------------------------------------------
# q424 — IVF hot-cell rebalance (salted subcell split, frozen centroids)
# ---------------------------------------------------------------------------

_Q424_CELLS = 8  # the coarse quantizer's cell count (q285's centroids)


def _q424_rebalance(vectors: DataFrame) -> DataFrame:
    """The rebalance kernel over any (vec_id, embedding) batch: assign
    cells under the FROZEN q285 centroids, set the per-subcell target
    S = ceil(N / {_Q424_CELLS}) (exact integer ceil), split every cell
    above S into ceil(n / S) md5-salted subcells (q387's salting
    discipline applied to the vector index), and publish the
    (cell, subcell) manifest with order-independent content hashes —
    the artifact a serving tier reads to open one scan task per
    subcell file. Probing is unchanged: a probe of cell c reads all
    of c's subcells, so recall is IDENTICAL by construction — the
    split buys bounded-size index files (in expectation per md5
    uniformity; the planted 100x-hot test pins the bound) without
    re-training the quantizer."""
    from pyspark.sql import functions as F  # noqa: F811

    from databricks_etl_spark.operators.similarity import assign_cells
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_col

    spark = vectors.sparkSession
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    cells = assign_cells(vectors, cents).select(
        "vec_id", F.col("cell_id").cast("long").alias("cell_id")
    )
    tot = cells.agg(
        F.expr(f"CAST((COUNT(*) + {_Q424_CELLS - 1})"
               f" DIV {_Q424_CELLS} AS BIGINT)").alias("s")
    )
    sz = cells.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ns = sz.crossJoin(F.broadcast(tot)).select(
        "cell_id",
        F.expr("CAST((n + s - 1) DIV s AS BIGINT)").alias("n_sub"),
    )
    rb = cells.join(F.broadcast(ns), "cell_id").select(
        "vec_id",
        "cell_id",
        (
            _md5_mod_col(
                F.concat(F.lit("rebal:"), F.col("vec_id").cast("string"))
            )
            % F.col("n_sub")
        ).alias("subcell_id"),
        "n_sub",
    )
    payload = F.concat_ws("|", "vec_id", "cell_id", "subcell_id")
    return rb.groupBy("cell_id", "subcell_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(_md5_mod_col(payload)).cast("long").alias("content_hash"),
        (F.max("n_sub") > 1).alias("was_split"),
    )


def _q424_oracle() -> str:
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_D2,
    )
    from databricks_etl_spark.plans.queries_round10 import _md5_mod_sql

    cvals = ", ".join(f"({j}, {c})" for j, c in enumerate(_Q285_CENTS))
    salt = _md5_mod_sql("'rebal:' || CAST(vec_id AS VARCHAR)")
    payload = (
        "CAST(vec_id AS VARCHAR) || '|' || CAST(cell_id AS VARCHAR)"
        " || '|' || CAST(subcell_id AS VARCHAR)"
    )
    return f"""
        WITH au AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS embedding
            FROM embeddings
        ),
        cents(cid, c) AS (VALUES {cvals}),
        asg AS (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY {_Q285_D2}, cid
                   ) AS rn
            FROM au, cents
        ),
        cells AS (
            SELECT vec_id, CAST(cid AS BIGINT) AS cell_id
            FROM asg WHERE rn = 1
        ),
        tot AS (
            SELECT CAST((COUNT(*) + {_Q424_CELLS - 1})
                        // {_Q424_CELLS} AS BIGINT) AS s
            FROM cells
        ),
        sz AS (
            SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM cells GROUP BY 1
        ),
        ns AS (
            SELECT cell_id, CAST((n + s - 1) // s AS BIGINT) AS n_sub
            FROM sz, tot
        ),
        rb AS (
            SELECT c.vec_id, c.cell_id,
                   CAST({salt} % ns.n_sub AS BIGINT) AS subcell_id,
                   ns.n_sub
            FROM cells c JOIN ns USING (cell_id)
        )
        SELECT cell_id, subcell_id,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM({_md5_mod_sql(payload)}) AS BIGINT)
                   AS content_hash,
               (MAX(n_sub) > 1) AS was_split
        FROM rb GROUP BY 1, 2
    """


@query("q424_ivf_cell_rebalance", oracle=_q424_oracle())
def q424_ivf_cell_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE for the ANN serving stack: as a corpus grows
    (or q384's deltas accumulate), IVF cells drift out of balance, and
    the biggest cell sets the worst-case probe latency and the biggest
    index file. The rebalance splits every cell above the uniform
    target S = ceil(N / {_Q424_CELLS}) into ceil(n / S) md5-salted
    subcells and re-publishes the per-(cell, subcell) manifest
    (counts + order-independent content hashes, q384's discipline) —
    recall-neutral by construction since a probe reads all subcells
    of its cell, and quantizer-frozen so it composes with q384/q390's
    append path. Completes the vector-index lifecycle the engine
    proves: build (q116/q68) → incremental (q384) → streaming (q390)
    → compress (q316/q412) → REBALANCE.

    Scale shape: one broadcast 8-row centroid argmin per vector, two
    tiny rollups (8 and ≤N/S rows), one broadcast salt join — no
    vector ever shuffles by embedding; the planted 100x-hot-cell test
    pins that a pathological cell actually splits and its subcells
    bound at ~S in expectation."""
    return _q424_rebalance(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )


# ---------------------------------------------------------------------------
# q425 — fail-closed storage-LAYOUT gate (overflow ∧ amplification ∧ rewrite)
# ---------------------------------------------------------------------------

# Calibrated to SHIP at sf0.01 (overflow 0.289, amplification 5.13,
# aligned rewrite 0.111) and to HOLD at sf0.001 — where one split per
# type covers the whole month and a day-grain query pays ~99x
# amplification: at tiny volume the 256-row target over-compacts and
# the gate SAYS so (a gate that cannot fail on real inputs gates
# nothing).
_Q425_MAX_OVERFLOW = 0.5  # (max split_rows - target) / target
_Q425_MAX_AMP = 8.0  # worst workload-window read amplification
_Q425_MAX_REWRITE = 0.35  # worst aligned late-day rewrite share


def _q425_oracle() -> str:
    o417 = QUERIES["q417_compaction_plan"].oracle
    return f"""
        WITH plan AS MATERIALIZED (SELECT * FROM ({o417})),
        f AS MATERIALIZED ({_daily_files_sql()}),
        {_q419_ctes()},
        {_q422_ctes()},
        c1 AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_splits,
                   CASE WHEN COUNT(*) > 0 THEN
                       round(CAST(GREATEST(MAX(split_rows)
                                           - {_Q417_TGT}, 0)
                                  AS DOUBLE) / {_Q417_TGT}, 6)
                   END AS max_overflow_share
            FROM plan
        ),
        c2 AS (
            SELECT MAX(read_amplification) AS max_read_amplification
            FROM tr
        ),
        c3 AS (
            SELECT MAX(rewrite_share_aligned) AS max_rewrite_share
            FROM rc
        )
        SELECT c1.n_splits, c1.max_overflow_share,
               c2.max_read_amplification, c3.max_rewrite_share,
               (c1.n_splits > 0) AS check_nonempty,
               COALESCE(c1.max_overflow_share <= {_Q425_MAX_OVERFLOW},
                        FALSE) AS check_overflow,
               COALESCE(c2.max_read_amplification <= {_Q425_MAX_AMP},
                        FALSE) AS check_amplification,
               COALESCE(c3.max_rewrite_share <= {_Q425_MAX_REWRITE},
                        FALSE) AS check_rewrite,
               CASE WHEN c1.n_splits > 0
                     AND COALESCE(c1.max_overflow_share
                                  <= {_Q425_MAX_OVERFLOW}, FALSE)
                     AND COALESCE(c2.max_read_amplification
                                  <= {_Q425_MAX_AMP}, FALSE)
                     AND COALESCE(c3.max_rewrite_share
                                  <= {_Q425_MAX_REWRITE}, FALSE)
                    THEN 'SHIP' ELSE 'HOLD' END AS verdict
        FROM c1, c2, c3
    """


def _q425_gate(
    spark: SparkSession,
    files: DataFrame,
    *,
    max_overflow: float = _Q425_MAX_OVERFLOW,
    max_amp: float = _Q425_MAX_AMP,
    max_rewrite: float = _Q425_MAX_REWRITE,
) -> DataFrame:
    """The layout-gate kernel over an explicit daily-file relation —
    planted tests feed adversarial layouts; q425 feeds the production
    ingest model. One checkpointed file relation and one checkpointed
    plan fan into the three check branches (the q418 discipline)."""
    files = files.localCheckpoint(eager=False)
    plan = _split_rollup(_file_prefix_sums(files)).localCheckpoint(eager=False)
    c1 = plan.agg(
        F.count(F.lit(1)).cast("long").alias("n_splits"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.greatest(
                    F.max("split_rows") - _Q417_TGT, F.lit(0)
                ).cast("double")
                / _Q417_TGT,
                6,
            ),
        ).alias("max_overflow_share"),
    )
    c2 = _q419_tradeoff(spark, files, plan).agg(
        F.max("read_amplification").alias("max_read_amplification")
    )
    c3 = _q422_cost(spark, files, plan).agg(
        F.max("rewrite_share_aligned").alias("max_rewrite_share")
    )
    g = c1.crossJoin(c2).crossJoin(c3)
    ck_ne = F.col("n_splits") > 0
    ck_of = F.coalesce(
        F.col("max_overflow_share") <= max_overflow, F.lit(False)
    )
    ck_am = F.coalesce(
        F.col("max_read_amplification") <= max_amp, F.lit(False)
    )
    ck_rw = F.coalesce(
        F.col("max_rewrite_share") <= max_rewrite, F.lit(False)
    )
    return g.select(
        "n_splits",
        "max_overflow_share",
        "max_read_amplification",
        "max_rewrite_share",
        ck_ne.alias("check_nonempty"),
        ck_of.alias("check_overflow"),
        ck_am.alias("check_amplification"),
        ck_rw.alias("check_rewrite"),
        F.when(ck_ne & ck_of & ck_am & ck_rw, F.lit("SHIP"))
        .otherwise(F.lit("HOLD"))
        .alias("verdict"),
    )


@query("q425_layout_gate", oracle=_q425_oracle())
def q425_layout_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fail-closed STORAGE-LAYOUT gate — the fifth ship surface,
    joining corpus (q386), tokenizer (q395), plan (q408) and loader
    (q418): one verdict row a compaction service reads before
    swapping the manifest in. Checks: floor-binning's structural
    overflow bound held ((max split - target)/target <=
    {_Q425_MAX_OVERFLOW}), the literal query workload's worst zone
    read-amplification (q419's tr) <= {_Q425_MAX_AMP}, and the worst
    week-aligned late-day rewrite share (q422's rc) <=
    {_Q425_MAX_REWRITE}. Empty plan or undefined metrics COALESCE to
    failed checks — HOLD, never silently SHIP.

    The gate DISCRIMINATES on real inputs: at sf0.01 it ships with
    honest margins, at sf0.001 it holds — one split per type covers
    the whole month there, so a day-grain query pays ~99x
    amplification, which is precisely the "don't compact yet" signal
    a tiny table should produce (tested). Oracle restates all three
    checks in ONE statement off the same plan/files CTEs the audit
    lanes select from (_q419_ctes/_q422_ctes), so gate and audits
    cannot drift."""
    return _q425_gate(spark, _daily_files(spark, sf_dir))


# ---------------------------------------------------------------------------
# q426 — ANN index datasheet (the publishable vector-index card)
# ---------------------------------------------------------------------------


def _q426_oracle() -> str:
    o424 = QUERIES["q424_ivf_cell_rebalance"].oracle
    o412 = QUERIES["q412_jl_distortion_audit"].oracle
    o413 = QUERIES["q413_jl_retrieval_recall"].oracle
    return f"""
        WITH reb AS MATERIALIZED (SELECT * FROM ({o424})),
        env AS (SELECT * FROM ({o412})),
        rec AS (SELECT * FROM ({o413})),
        cellr AS (
            SELECT cell_id, CAST(SUM(n_vectors) AS BIGINT) AS n
            FROM reb GROUP BY 1
        ),
        c1 AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nv,
                   CAST(COUNT(*) AS BIGINT) AS nc,
                   CAST(MAX(n) AS BIGINT) AS mx
            FROM cellr
        ),
        c2 AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nsc,
                   CAST(COUNT(DISTINCT CASE WHEN was_split
                                            THEN cell_id END)
                        AS BIGINT) AS nsplit,
                   CAST(MAX(n_vectors) AS BIGINT) AS mxsub
            FROM reb
        )
        SELECT c1.nv AS n_vectors, c1.nc AS n_cells,
               round(CAST(c1.mx AS DOUBLE) / c1.nv, 6)
                   AS max_cell_share,
               c2.nsc AS n_subcells, c2.nsplit AS n_cells_split,
               c2.mxsub AS max_subcell_rows,
               env.mean_ratio AS jl_mean_ratio,
               env.share_in_band AS jl_share_in_band,
               rec.mean_recall_at_10 AS recall10_compressed,
               rec.top1_match_rate AS top1_compressed
        FROM c1, c2, env, rec
    """


@query("q426_ann_index_datasheet", oracle=_q426_oracle())
def q426_ann_index_datasheet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The vector-index release card — q393's datasheet discipline
    (and q339's datacard) applied to the ANN serving stack: ONE row
    stating what a consumer of the index needs before pointing a
    retriever at it. Capacity & balance (vectors, cells, hottest-cell
    share), layout (subcell count after q424's rebalance, cells that
    split, biggest subcell file), compression honesty (q412's JL
    distortion mean and in-band share — the geometry claim), and
    end-metric honesty (q413's compressed recall@10 and top-1
    agreement — what the compression actually costs a retriever; on
    THIS near-isotropic corpus that verdict is no-go, and the
    datasheet SAYS so rather than hiding it, which is the entire
    point of shipping a datasheet).

    Every number is lifted from an individually driver-proven lane —
    the oracle embeds q424/q412/q413's SQL verbatim so the card
    cannot drift from the audits it summarizes; the Spark side
    aggregates the same registered queries (one-row relations
    cross-joined, the q418/q425 composition shape)."""
    # lazy: two consumers share one materialization at first action
    # instead of an eager barrier job at BUILD time
    reb = q424_ivf_cell_rebalance(spark, sf_dir).localCheckpoint(eager=False)
    env = q412_jl_distortion_audit(spark, sf_dir)
    rec = q413_jl_retrieval_recall(spark, sf_dir)
    cellr = reb.groupBy("cell_id").agg(
        F.sum("n_vectors").cast("long").alias("n")
    )
    c1 = cellr.agg(
        F.sum("n").cast("long").alias("nv"),
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.max("n").cast("long").alias("mx"),
    )
    c2 = reb.agg(
        F.count(F.lit(1)).cast("long").alias("nsc"),
        F.countDistinct(
            F.when(F.col("was_split"), F.col("cell_id"))
        )
        .cast("long")
        .alias("nsplit"),
        F.max("n_vectors").cast("long").alias("mxsub"),
    )
    e1 = env.select(
        F.col("mean_ratio").alias("jl_mean_ratio"),
        F.col("share_in_band").alias("jl_share_in_band"),
    )
    r1 = rec.select(
        F.col("mean_recall_at_10").alias("recall10_compressed"),
        F.col("top1_match_rate").alias("top1_compressed"),
    )
    return (
        c1.crossJoin(c2)
        .crossJoin(e1)
        .crossJoin(r1)
        .select(
            F.col("nv").alias("n_vectors"),
            F.col("nc").alias("n_cells"),
            F.round(
                F.col("mx").cast("double") / F.col("nv"), 6
            ).alias("max_cell_share"),
            F.col("nsc").alias("n_subcells"),
            F.col("nsplit").alias("n_cells_split"),
            F.col("mxsub").alias("max_subcell_rows"),
            "jl_mean_ratio",
            "jl_share_in_band",
            "recall10_compressed",
            "top1_compressed",
        )
    )


# ---------------------------------------------------------------------------
# q427 — serving-config selection: min probes per recall target
# ---------------------------------------------------------------------------

_Q427_TARGETS = [0.5, 0.75, 0.9, 0.99]


def _q427_oracle() -> str:
    o388 = QUERIES["q388_ivf_probe_sweep_sampled"].oracle
    vals = ", ".join(f"({t})" for t in _Q427_TARGETS)
    return f"""
        WITH sw AS MATERIALIZED (SELECT * FROM ({o388})),
        tg(t) AS (VALUES {vals}),
        cand AS (
            SELECT tg.t, sw.n_probe, sw.mean_recall_at_10,
                   row_number() OVER (
                       PARTITION BY tg.t ORDER BY sw.n_probe) AS rn
            FROM tg JOIN sw ON sw.mean_recall_at_10 >= tg.t
        )
        SELECT tg.t AS target_recall,
               c.n_probe,
               c.mean_recall_at_10 AS achieved_recall,
               round(CAST(c.n_probe AS DOUBLE) / {_Q424_CELLS}, 6)
                   AS probed_cell_share,
               (c.n_probe IS NOT NULL) AS reachable
        FROM tg LEFT JOIN cand c ON tg.t = c.t AND c.rn = 1
    """


@query("q427_serving_config_selection", oracle=_q427_oracle())
def q427_serving_config_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closing the sweep → DECISION loop: q388 publishes the
    recall-vs-probe curve, but what a serving deployment actually
    needs is the CONFIG — for each recall SLO tier, the cheapest
    probe count that clears it, what that setting actually achieves,
    and its cost as the share of index cells scanned. One row per
    target; an unreachable tier comes back (NULL, reachable=false)
    rather than silently picking the max — the fail-closed convention
    at the planning grain. The oracle embeds q388's sweep verbatim so
    the decision table cannot drift from the measured curve.

    Scale shape: the sweep relation is |probe settings| rows; the
    selection is a broadcast 4-row join + bounded rank — free at any
    corpus size (the sweep itself carries q388's slice-bounded eval
    budget)."""
    from pyspark.sql import Window

    sweep = q388_ivf_probe_sweep_sampled(spark, sf_dir).localCheckpoint(eager=False)
    tg = spark.createDataFrame(
        [(t,) for t in _Q427_TARGETS], "t double"
    )
    w = Window.partitionBy("t").orderBy("n_probe")
    cand = (
        tg.join(
            sweep, F.col("mean_recall_at_10") >= F.col("t")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("t").alias("__t"),
            "n_probe",
            F.col("mean_recall_at_10").alias("achieved_recall"),
        )
    )
    return tg.join(cand, F.col("t") == F.col("__t"), "left").select(
        F.col("t").alias("target_recall"),
        "n_probe",
        "achieved_recall",
        F.round(
            F.col("n_probe").cast("double") / _Q424_CELLS, 6
        ).alias("probed_cell_share"),
        F.col("n_probe").isNotNull().alias("reachable"),
    )


# ---------------------------------------------------------------------------
# q428 — watermark demand audit (what lateness does the data actually have?)
# ---------------------------------------------------------------------------

_Q428_WMS = [1, 5, 30, 120]  # candidate watermarks, minutes
_Q428_BKT = 256  # event_ids per running-max bucket (two-phase prefix max)


def _q428_oracle() -> str:
    vals = ", ".join(f"({w})" for w in _Q428_WMS)
    return f"""
        WITH e AS (
            SELECT event_type, event_id, ts,
                   MAX(ts) OVER (
                       PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS rm
            FROM events
        ),
        l AS (
            SELECT event_type,
                   (rm IS NOT NULL AND ts < rm) AS ooo,
                   CASE WHEN rm IS NOT NULL AND ts < rm THEN
                       CAST(floor(epoch(rm)) AS BIGINT)
                       - CAST(floor(epoch(ts)) AS BIGINT)
                   ELSE 0 END AS late_s
            FROM e
        ),
        wm(w) AS (VALUES {vals})
        SELECT l.event_type,
               CAST(wm.w AS BIGINT) AS watermark_minutes,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               round(CAST(SUM(CASE WHEN l.ooo THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6)
                   AS out_of_order_share,
               CAST(SUM(CASE WHEN l.late_s > wm.w * 60
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               round(CAST(SUM(CASE WHEN l.late_s > wm.w * 60
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS dropped_share,
               CAST(MAX(late_s) AS BIGINT) AS max_lateness_seconds
        FROM l CROSS JOIN wm
        GROUP BY 1, 2
    """


@query("q428_watermark_demand_audit", oracle=_q428_oracle())
def q428_watermark_demand_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What watermark does this stream actually NEED? q52/q64/q93
    consume `withWatermark` settings as given; nothing measured the
    data's own disorder. Per event_type, against arrival order
    (event_id): the out-of-order share, the maximum lateness (floored
    seconds — both engines floor epoch identically; NTZ-safe, no
    unix_micros), and for each candidate watermark the exact count
    and share of events a stateful operator would DROP as too-late —
    the table a streaming engineer reads to trade state size against
    completeness before picking the `withWatermark` argument.

    The Spark running max is TWO-PHASE, never one global ordered
    window: events bucket by event_id DIV {_Q428_BKT}, per-bucket max
    timestamps take a tiny per-type ordered window, and each event
    compares against greatest(prior-bucket max, within-bucket running
    max) — the q326/q417 prefix discipline applied to MAX. The oracle
    deliberately states the NAIVE single-window form; hash equality
    is the proof that the distributed decomposition computes the same
    relation."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.expr(f"CAST(event_id DIV {_Q428_BKT} AS BIGINT)").alias(
            "bucket"
        ),
    )
    pb = e.groupBy("event_type", "bucket").agg(F.max("ts").alias("mx"))
    wpb = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = pb.select(
        "event_type", "bucket", F.max("mx").over(wpb).alias("pre_mx")
    )
    win = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    l = (
        e.join(F.broadcast(pre), ["event_type", "bucket"])
        .withColumn("inmx", F.max("ts").over(win))
        .withColumn("rm", F.greatest("pre_mx", "inmx"))
        .select(
            "event_type",
            (F.col("rm").isNotNull() & (F.col("ts") < F.col("rm"))).alias(
                "ooo"
            ),
            F.when(
                F.col("rm").isNotNull() & (F.col("ts") < F.col("rm")),
                F.floor(F.unix_timestamp("rm"))
                - F.floor(F.unix_timestamp("ts")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("late_s"),
        )
    )
    wm = spark.createDataFrame([(w,) for w in _Q428_WMS], "w long")
    n = F.count(F.lit(1))
    dropped = F.sum(
        F.when(F.col("late_s") > F.col("w") * 60, 1).otherwise(0)
    )
    return (
        l.crossJoin(F.broadcast(wm))
        .groupBy("event_type", "w")
        .agg(
            n.cast("long").alias("n_events"),
            F.round(
                F.sum(F.when(F.col("ooo"), 1).otherwise(0)).cast("double")
                / n,
                6,
            ).alias("out_of_order_share"),
            dropped.cast("long").alias("n_dropped"),
            F.round(dropped.cast("double") / n, 6).alias("dropped_share"),
            F.max("late_s").cast("long").alias("max_lateness_seconds"),
        )
        .withColumnRenamed("w", "watermark_minutes")
    )


# ---------------------------------------------------------------------------
# q429 — chunk-reassembly fidelity + the overlap redundancy bill
# ---------------------------------------------------------------------------


def _q429_oracle() -> str:
    from databricks_etl_spark.plans.queries_round8 import (
        _Q318_S,
        _q318_chunks_sql,
    )

    return f"""
        WITH {_q318_chunks_sql()},
        per AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_chunk_tokens) AS BIGINT) AS sumc
            FROM chunks GROUP BY 1
        ),
        lastc AS (
            SELECT doc_id, n_chunk_tokens AS last_len FROM (
                SELECT doc_id, n_chunk_tokens,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY chunk_idx DESC) AS rn
                FROM chunks
            ) WHERE rn = 1
        ),
        tl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
        pd AS (
            SELECT d.source, p.k, p.sumc, tl.n,
                   {_Q318_S} * (p.k - 1) + l.last_len AS reassembled
            FROM per p
            JOIN lastc l ON p.doc_id = l.doc_id
            JOIN tl ON p.doc_id = tl.doc_id
            JOIN documents d ON p.doc_id = d.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(k) AS BIGINT) AS n_chunks,
               CAST(SUM(n) AS BIGINT) AS n_tokens_total,
               CAST(SUM(sumc) AS BIGINT) AS chunk_tokens_total,
               CAST(SUM(CASE WHEN reassembled = n THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lossless_docs,
               (SUM(CASE WHEN reassembled = n THEN 1 ELSE 0 END)
                = COUNT(*)) AS all_lossless,
               round(CAST(SUM(sumc) - SUM(n) AS DOUBLE) / SUM(n), 6)
                   AS redundancy_share
        FROM pd GROUP BY 1
    """


@query("q429_chunk_reassembly_fidelity", oracle=_q429_oracle())
def q429_chunk_reassembly_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The integrity claim every chunk-grain lane rides (q318 → q319
    decontam, q330 banding, q340 packing), stated and PRICED: stride
    reassembly (stride x (k-1) + last chunk) must reconstruct every
    document's exact token count — zero tokens lost at chunk
    boundaries, per source — and the overlap that makes spans
    catchable costs a measured redundancy share (chunk tokens over
    original tokens, ~+100% at 50% overlap on long docs, less where
    docs are shorter than one window). A pipeline that changes
    window/stride re-reads THIS lane to see both the safety proof and
    the storage/compute bill move together.

    Scale shape: the chunker is map-side (q318); the per-doc rollup
    keys on doc_id, the last-chunk rank window is per-doc bounded —
    nothing scans beyond the chunk stream it audits."""
    from pyspark.sql import Window

    from databricks_etl_spark.operators.text import chunk_tokens, tokens_col
    from databricks_etl_spark.plans.queries_round8 import _Q318_S, _Q318_W

    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_tokens(d, _Q318_W, _Q318_S).localCheckpoint(eager=False)
    per = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_chunk_tokens").cast("long").alias("sumc"),
    )
    wl = Window.partitionBy("doc_id").orderBy(F.desc("chunk_idx"))
    lastc = (
        chunks.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("n_chunk_tokens").alias("last_len"))
    )
    tl = d.select(
        "doc_id",
        "source",
        F.size(tokens_col("text")).cast("long").alias("n"),
    )
    pd_ = (
        per.join(lastc, "doc_id")
        .join(tl, "doc_id")
        .select(
            "source",
            "k",
            "sumc",
            "n",
            (_Q318_S * (F.col("k") - 1) + F.col("last_len")).alias(
                "reassembled"
            ),
        )
    )
    lossless = F.sum(
        F.when(F.col("reassembled") == F.col("n"), 1).otherwise(0)
    )
    return pd_.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("k").cast("long").alias("n_chunks"),
        F.sum("n").cast("long").alias("n_tokens_total"),
        F.sum("sumc").cast("long").alias("chunk_tokens_total"),
        lossless.cast("long").alias("n_lossless_docs"),
        (lossless == F.count(F.lit(1))).alias("all_lossless"),
        F.round(
            (F.sum("sumc") - F.sum("n")).cast("double") / F.sum("n"), 6
        ).alias("redundancy_share"),
    )


# ---------------------------------------------------------------------------
# q430 — LAUNCH gate: the five ship-surface gates composed into one verdict
# ---------------------------------------------------------------------------

_Q430_GATES = [
    ("corpus_verdict", "q386_release_gate", "RELEASE"),
    ("tokenizer_verdict", "q395_tokenizer_gate", "RELEASE"),
    ("plan_verdict", "q408_shipping_plan_gate", "RELEASE"),
    ("loader_verdict", "q418_dataloader_gate", "SHIP"),
    ("layout_verdict", "q425_layout_gate", "SHIP"),
]


def _q430_oracle() -> str:
    cte = ",\n        ".join(
        f"g{i} AS (SELECT MAX(verdict) AS v FROM "
        f"({QUERIES[qname].oracle}))"
        for i, (_, qname, _tok) in enumerate(_Q430_GATES)
    )
    cols = ",\n               ".join(
        f"g{i}.v AS {alias}" for i, (alias, _, _) in enumerate(_Q430_GATES)
    )
    passes = " + ".join(
        f"CASE WHEN g{i}.v = '{tok}' THEN 1 ELSE 0 END"
        for i, (_, _, tok) in enumerate(_Q430_GATES)
    )
    allpass = " AND ".join(
        f"COALESCE(g{i}.v = '{tok}', FALSE)"
        for i, (_, _, tok) in enumerate(_Q430_GATES)
    )
    froms = ", ".join(f"g{i}" for i in range(len(_Q430_GATES)))
    return f"""
        WITH {cte}
        SELECT {cols},
               CAST({len(_Q430_GATES)} AS BIGINT) AS n_gates,
               CAST({passes} AS BIGINT) AS n_pass,
               CASE WHEN {allpass} THEN 'GO' ELSE 'NO_GO' END AS launch
        FROM {froms}
    """


@query("q430_launch_gate", oracle=_q430_oracle())
def q430_launch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Launch control: the five fail-closed ship-surface gates the
    engine proves — corpus release (q386), tokenizer release (q395),
    shipping plan (q408), dataloader serving (q418), storage layout
    (q425) — composed into ONE row a run-approval system reads. GO
    requires every gate at its own pass token; a missing verdict
    (empty gate output) COALESCEs to a failed gate — NO_GO, never a
    silent launch. The gates stay independently owned: each keeps its
    own thresholds, planted-violation tests and oracle; this lane
    embeds those oracles verbatim (the q312 composition rule), so the
    launch row can never disagree with the gates it summarizes.

    The composition DISCRIMINATES: at sf0.01 all five gates pass →
    GO; at sf0.001 the layout gate's amplification check fires (one
    split per type) → NO_GO with exactly one failing surface visible
    (tested). Scale shape: five 1-row relations cross-joined;
    component costs dominate by design."""
    parts = None
    for alias, qname, _tok in _Q430_GATES:
        g = (
            QUERIES[qname]
            .fn(spark, sf_dir)
            .agg(F.max("verdict").alias(alias))
        )
        parts = g if parts is None else parts.crossJoin(g)
    n_pass = sum(
        (
            F.when(F.col(alias) == tok, 1).otherwise(0)
            for alias, _, tok in _Q430_GATES
        ),
        F.lit(0),
    )
    allpass = None
    for alias, _, tok in _Q430_GATES:
        c = F.coalesce(F.col(alias) == tok, F.lit(False))
        allpass = c if allpass is None else (allpass & c)
    return parts.select(
        *[F.col(a) for a, _, _ in _Q430_GATES],
        F.lit(len(_Q430_GATES)).cast("long").alias("n_gates"),
        n_pass.cast("long").alias("n_pass"),
        F.when(allpass, F.lit("GO")).otherwise(F.lit("NO_GO")).alias(
            "launch"
        ),
    )


# Session-scoped gate cache: the driver window holds BOTH the five
# gate lanes and q430, and q430 re-derives each gate's full chain —
# without memoization every chain is paid twice per session. Keyed on
# (Spark application, sf_dir, lane); values are localCheckpoint'd
# 1-row verdicts, valid for the life of the application. Pure
# read-through cache of deterministic computations (the _BPE_CACHE
# argument): results are byte-identical with or without it. The
# planted-violation tests are unaffected — they drive the *_gate
# KERNELS with explicit kwargs, never these registered lanes.
_GATE_CACHE: dict = {}


def _gate_read_through(qname: str):
    orig = QUERIES[qname].fn

    def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os

        key = (
            spark.sparkContext.applicationId,
            _os.path.realpath(sf_dir),
            qname,
        )
        if key not in _GATE_CACHE:
            _GATE_CACHE[key] = orig(spark, sf_dir).localCheckpoint(eager=False)
        return _GATE_CACHE[key]

    cached.__name__ = orig.__name__
    cached.__doc__ = orig.__doc__
    return cached


from dataclasses import replace as _gate_replace  # noqa: E402

for _gname in (
    "q386_release_gate",
    "q395_tokenizer_gate",
    "q408_shipping_plan_gate",
    "q418_dataloader_gate",
    "q425_layout_gate",
):
    QUERIES[_gname] = _gate_replace(
        QUERIES[_gname], fn=_gate_read_through(_gname)
    )


# ---------------------------------------------------------------------------
# q431 — watermark recommendation: cheapest setting under a loss SLO
# ---------------------------------------------------------------------------

_Q431_MAX_DROP = 0.005  # completeness SLO: lose at most 0.5% of events


def _q431_oracle() -> str:
    o428 = QUERIES["q428_watermark_demand_audit"].oracle
    return f"""
        WITH aud AS MATERIALIZED (SELECT * FROM ({o428})),
        ok AS (
            SELECT event_type, watermark_minutes, dropped_share,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY watermark_minutes) AS rn
            FROM aud WHERE dropped_share <= {_Q431_MAX_DROP}
        ),
        et AS (SELECT DISTINCT event_type FROM aud)
        SELECT et.event_type,
               o.watermark_minutes AS recommended_watermark_minutes,
               o.dropped_share AS expected_dropped_share,
               (o.watermark_minutes IS NOT NULL) AS satisfiable
        FROM et LEFT JOIN ok o
            ON et.event_type = o.event_type AND o.rn = 1
    """


@query("q431_watermark_recommendation", oracle=_q431_oracle())
def q431_watermark_recommendation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The decision row on top of q428's measurement — the q427
    symmetry (sweep → config) applied to the streaming side: per
    event_type, the SMALLEST candidate watermark whose measured
    dropped share clears the {_Q431_MAX_DROP} completeness SLO
    (smaller watermark = less state and lower emit latency, so min
    is the right direction), what that setting is expected to drop,
    and a fail-closed satisfiable flag when no candidate clears the
    SLO (NULL recommendation, never a silent max). A q52/q64/q93
    deployment reads this row instead of guessing its
    ``withWatermark`` argument.

    Scale shape: the audit relation is |types| x |candidates| rows;
    selection is a bounded rank — free at any event volume."""
    from pyspark.sql import Window

    aud = q428_watermark_demand_audit(spark, sf_dir).localCheckpoint(eager=False)
    w = Window.partitionBy("event_type").orderBy("watermark_minutes")
    ok = (
        aud.filter(F.col("dropped_share") <= _Q431_MAX_DROP)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("__et"),
            F.col("watermark_minutes").alias(
                "recommended_watermark_minutes"
            ),
            F.col("dropped_share").alias("expected_dropped_share"),
        )
    )
    et = aud.select("event_type").distinct()
    return et.join(
        ok, et["event_type"] == ok["__et"], "left"
    ).select(
        "event_type",
        "recommended_watermark_minutes",
        "expected_dropped_share",
        F.col("recommended_watermark_minutes")
        .isNotNull()
        .alias("satisfiable"),
    )
