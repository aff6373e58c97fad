"""Similarity search over embedding columns (north-star extension,
SURVEY.md §2.12): brute-force cosine top-k (exact baseline) and an
LSH-bucketed approximate variant (the scale path).

Numerics: dot products are computed with ``F.zip_with`` +
``F.aggregate`` over ``array<double>`` — a sequential left fold that is
**bit-identical** to DuckDB's ``list_sum(list_transform(...))`` fold
(verified empirically), so cosine scores oracle-match exactly without
tolerance. All JVM-side expressions; no Python UDF.

Scale: brute-force is a broadcast nested-loop (queries broadcast to
every partition of the corpus) followed by a per-query top-k — linear
in corpus size, embarrassingly parallel, the right *exact* baseline at
any scale when the query set is small. For large query sets use
:func:`brp_lsh_neighbors` (bucketed random projection: candidate
pairs from same-bucket equi-join only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over two array<float|double> cols."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL similarity instead of
    # killing the job (Spark 4 ANSI raises DIVIDE_BY_ZERO even for
    # double division) — one corrupt embedding must not fail a 100 TB
    # ANN sweep; the q230 hygiene gate counts such vectors upstream
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def paired_cosine(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """:func:`cosine` with the per-row norms HOISTED (guide §1.2
    "per-task work"): on a pair stream, ``cosine(a, b)`` re-folds both
    vector norms per PAIR — three interpreted higher-order-function
    folds where one (the dot) is pairwise and two are pure functions of
    a single row. Callers precompute ``norm(vec)`` once per row on each
    join side and pass it here. Bit-identical to ``cosine(a, b)`` when
    ``a_norm``/``b_norm`` are ``norm(a)``/``norm(b)``: same fold, same
    a×b multiply order, same try_divide. Measured 8x on the SemDeDup
    within-cell pair stage (q285, 16.6s → 2.1s at sf0.1)."""
    return F.try_divide(dot(a, b), a_norm * b_norm)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k
    nearest corpus vectors (excluding itself).

    Returns (query_id, neighbor_id, rank, cosine_sim). Deterministic
    total order: (sim DESC, neighbor_id ASC). The query side is
    broadcast; ranking is a per-query window (small k ⇒
    TakeOrdered-like work per partition)."""
    # Precompute norms once per row (not per pair): each corpus vector
    # is scored against every query, so folding dot(v,v) inside the
    # pair expression would redo |Q|× the work. sqrt(dot(v,v)) is a
    # pure function of the row, so the result is bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim")
    )


def brp_lsh_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    bucket_length: float = 2.0,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate nearest neighbors via BucketedRandomProjectionLSH
    (``pyspark.ml``) — euclidean-bucket candidates, then exact cosine
    re-rank of candidates only. The 100 TB path: candidate generation
    is an equi-join on bucket hashes, never a full cross product.
    Seeded projections → rows-only oracle."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(id_col, array_to_vector(F.col(vec_col)).alias("features"), F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("qid"),
        array_to_vector(F.col(vec_col)).alias("features"),
        F.col(vec_col).alias("qvec"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=bucket_length,
        numHashTables=num_tables, seed=42,
    )
    model = lsh.fit(c)
    cand = model.approxSimilarityJoin(q, c, float("inf"), distCol="eucl")
    scored = cand.select(
        F.col("datasetA.qid").alias("query_id"),
        F.col(f"datasetB.{id_col}").alias("neighbor_id"),
        F.round(
            cosine(F.col("datasetA.qvec"), F.col(f"datasetB.{vec_col}")), 6
        ).alias("cosine_sim"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate NN: KMeans-partition the corpus
    into ``n_centroids`` cells, then for each query exactly re-rank
    only the ``n_probe`` nearest cells — the classic coarse-quantizer
    ANN (cf. FAISS IVF-Flat), here as pure DataFrame ops.

    Scale shape: the cell assignment is a one-off seeded KMeans fit +
    transform; the probe step is an equi-join on ``cell`` (each query
    touches n_probe/n_centroids of the corpus — a ~4/16 = 75% scan
    reduction at these defaults, tunable). Cells are hash-partitioned,
    so a 1000-executor cluster searches cells in parallel. Seeded but
    approximate → rows-only oracle; recall-vs-exact tested.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(id_col, vec_col, array_to_vector(F.col(vec_col)).alias("__fv"))
    km = KMeans(k=n_centroids, seed=42, featuresCol="__fv", predictionCol="cell")
    model = km.fit(c)
    assigned = model.transform(c).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
        "cell",
    )
    # centroid table is tiny (n_centroids × dim) — broadcast it
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        f"cell int, centroid array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("__csim"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__csim", cosine(F.col("__qv"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "__qv", "__qn", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim")
    )


def embed_text_stub(df: DataFrame, dim: int = 16, text_col: str = "text") -> DataFrame:
    """Deterministic fake text-embedding via an Arrow-batched Pandas UDF
    (the §2.10 UDF surface): md5-feature-hash each token into ``dim``
    buckets, L2-normalize (see :mod:`databricks_etl_spark.functions.udfs`).
    """
    from databricks_etl_spark.functions.udfs import make_embed_udf

    return df.withColumn("embedding", make_embed_udf(dim)(F.col(text_col)))


def embedding_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "doc_id",
    bucket_length: float = 0.25,
    num_tables: int = 6,
) -> DataFrame:
    """Embedding-cosine near-dup detection, LSH-bucketed (the 100 TB
    path — no cross product anywhere in the plan).

    Vectors are L2-normalized, so ``cos(a,b) >= t`` is exactly
    ``||a-b|| <= sqrt(2*(1-t))`` — a *bounded-radius* euclidean
    search. BucketedRandomProjectionLSH generates candidates via a
    same-bucket equi-join only (radius passed to
    ``approxSimilarityJoin`` prunes inside buckets); the exact cosine
    re-rank then keeps pairs ``>= threshold``. Identical vectors hash
    identically in every table, so true duplicates are never missed;
    near-dups at radius 0.2 collide in ≥1 of the ``num_tables`` tables
    w.h.p. (recall asserted in tests vs the all-pairs baseline).

    ``embedding_neardup_pairs_allpairs`` is the exact O(n²) baseline,
    kept for tests only."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # normalize for hashing; keep the original embedding for the exact
    # cosine re-rank (bit-identical to the all-pairs baseline's scores)
    e = (
        docs.select(id_col, "embedding")
        .withColumn("__n", norm(F.col("embedding")))
        .filter(F.col("__n") > 0)
        .withColumn(
            "__unit",
            F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("__n")),
        )
        .select(id_col, "embedding", array_to_vector(F.col("__unit")).alias("features"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=bucket_length,
        numHashTables=num_tables, seed=42,
    )
    model = lsh.fit(e)
    radius = float((2.0 * (1.0 - threshold)) ** 0.5)
    cand = model.approxSimilarityJoin(e, e, radius, distCol="__eucl")
    return (
        cand.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(
                cosine(F.col("datasetA.embedding"), F.col("datasetB.embedding")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_pairs_allpairs(
    docs: DataFrame, threshold: float = 0.95, *, id_col: str = "doc_id"
) -> DataFrame:
    """Exact all-pairs near-dup baseline (O(n²) crossJoin) — TEST-ONLY
    ground truth for :func:`embedding_neardup_pairs`' recall; never
    registered as a query."""
    e = docs.select(id_col, "embedding")
    a = e.select(F.col(id_col).alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def label_centroids(embeddings: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Per-label mean vector — posexplode + per-(label, dim) average +
    re-assemble. Pure aggregations; SQL-expressible."""
    dims = embeddings.select(
        "label", F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    per_dim = dims.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))).alias("mean_v")
    )
    return (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_v"))).alias("pairs"))
        .select(
            "label",
            F.transform(F.col("pairs"), lambda s: s.getField("mean_v")).alias("centroid"),
        )
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment (the IVF/SemDeDup coarse
    quantizer as a standalone op): squared-euclidean argmin against a
    BROADCAST centroid table ``(cid int, centroid array<double>)``,
    tiebroken by cid — q214's planar assignment generalized to
    arbitrary dimension. The fold is the same sequential
    ``zip_with``/``aggregate`` as :func:`dot`, so a DuckDB
    ``list_sum(list_transform(...))`` oracle is bit-identical.
    Returns (id, vec, cell_id); the argmin window runs over
    n_centroids rows per vector, never over the data."""
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # r17 (guide §2.3 "aggregate before you shuffle"): the argmin is a
    # map-combinable MIN of struct(d2, cid) — struct ordering compares
    # d2 then cid, exactly the old row_number window's
    # (d2 ASC, cid ASC) rank-1 row — so the per-id sort pass is gone
    # and the shuffle carries one partial min per (id, partition)
    # instead of every (id × centroid) row with its embedding copy.
    # first(vec) is deterministic: every row in an id's group carries
    # the identical vector (the crossJoin replicated it). d2 is never
    # NULL for the dense vectors this operator contracts (zip_with of
    # equal-length numeric arrays), so min-of-struct and the window
    # agree on every input either can see.
    return (
        vectors.select(id_col, vec_col)
        .crossJoin(F.broadcast(centroids))
        .groupBy(id_col)
        .agg(
            F.min(F.struct(d2.alias("__d"), F.col("cid"))).alias("__m"),
            F.first(vec_col).alias(vec_col),
        )
        .select(
            id_col, vec_col, F.col("__m.cid").cast("int").alias("cell_id")
        )
    )


def _pair_dot(dim: int | None) -> F.Column:
    """Dot of the pair columns ``__va``/``__vb``.

    With ``dim`` declared by a caller that CONTRACTS fixed-width dense
    vectors, the interpreted zip_with/aggregate fold (the per-pair hot
    expression — ~500k evaluations per SemDeDup cell pass) compiles to
    a flat left-associative product sum that whole-stage codegen
    executes natively. Bit-identical: the fold computes
    ((0.0 + x1·y1) + x2·y2) + …, the flat form (x1·y1 + x2·y2) + … and
    0.0 + t ≡ t in IEEE doubles, so every partial sum matches in order
    and value (the r16 JL-kernel argument). Without ``dim`` the
    general fold stays (ragged arrays keep their NULL semantics). The
    caller checks every vector's width against ``dim`` — the flat form
    would otherwise silently drop the elements past ``dim``."""
    if dim is None:
        return dot(F.col("__va"), F.col("__vb"))
    terms = " + ".join(
        f"(element_at(__va, {i}) * element_at(__vb, {i}))"
        for i in range(1, dim + 1)
    )
    return F.expr(terms)


def semdedup_prune(
    vectors: DataFrame,
    centroids: DataFrame,
    quality: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (cf. Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid,
    then WITHIN EACH CELL ONLY prune members that have a strictly
    higher-priority near-duplicate (rounded cosine ≥ ``threshold``;
    priority = (quality_score DESC, id ASC), q258's survivor rule) —
    never an all-pairs comparison across the corpus.

    Returns one row per vector: (id, cell_id, pruned, quality_score) —
    including vectors ABSENT from the quality frame (left join; their
    quality_score is NULL and they rank BELOW every scored member, so
    a scored near-duplicate always survives over an unscored one, and
    two unscored near-dups tiebreak on id). Deterministic given fixed
    centroids: the dominated-member rule needs no iterative
    clustering, so a DuckDB oracle states it exactly. Seeded-KMeans
    centroids (q286) reuse this body rows-only.

    Scale: the only join keyed on data volume is the within-cell
    equi-join on ``cell_id`` — the SemDeDup contract bounds the
    quadratic to cell size (at 100 TB you scale n_centroids so cells
    stay ~10⁴–10⁵ rows; a mass-duplicated hot cell is the same
    failure mode q272's hot-bucket cap guards in the MinHash lane).
    """
    cells = assign_cells(vectors, centroids, id_col=id_col, vec_col=vec_col)
    if dim is not None:
        # _pair_dot's width contract, checked once per vector before
        # the cell self-join multiplies rows
        width = F.size(vec_col)
        cells = cells.withColumn(
            vec_col,
            F.when(width == dim, F.col(vec_col)).otherwise(
                F.raise_error(
                    F.format_string(
                        f"{vec_col} has %d elements, dim={dim} was declared",
                        width,
                    )
                )
            ),
        )
    # LEFT join: a vector with no quality row must still appear in the
    # output (the operator's one-row-per-vector contract); its NULL
    # score is coalesced to -inf for the dominance order only.
    # Three consumers (both pair sides + the final join-back) share one
    # lazy materialization instead of re-running assign_cells and the
    # quality join per consumer (guide §2.4).
    lab = cells.join(quality, id_col, "left").localCheckpoint(eager=False)
    neg_inf = F.lit(float("-inf"))
    # Per-ROW norm, hoisted out of the pair expression (guide §1.2
    # "per-task work"): cosine(va, vb) recomputed BOTH norms per pair —
    # three interpreted higher-order-function folds per pair, two of
    # which are pure functions of one row. sqrt(dot(v,v)) per side,
    # multiplied in the same (a-side × b-side) order as norm(a)*norm(b)
    # inside `cosine`, then the same try_divide/round — bit-identical.
    a = lab.select(
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
        "cell_id",
        F.coalesce(F.col("quality_score"), neg_inf).alias("__qa"),
    )
    b = lab.select(
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
        "cell_id",
        F.coalesce(F.col("quality_score"), neg_inf).alias("__qb"),
    )
    dominated = (
        a.join(b, "cell_id")
        .filter(F.col("__ida") != F.col("__idb"))
        # dominance first: the priority predicate is a cheap scalar
        # compare that halves the pair stream BEFORE the cosine fold
        # runs (conjunct order is evaluation order — filters commute,
        # result set unchanged)
        .filter(
            (F.col("__qb") > F.col("__qa"))
            | ((F.col("__qb") == F.col("__qa")) & (F.col("__idb") < F.col("__ida")))
        )
        .filter(
            F.round(
                F.try_divide(
                    _pair_dot(dim),
                    F.col("__na") * F.col("__nb"),
                ),
                6,
            )
            >= threshold
        )
        .select(F.col("__ida").alias(id_col))
        .distinct()
        .withColumn("__pruned", F.lit(True))
    )
    return (
        lab.join(dominated, id_col, "left")
        .select(
            id_col,
            "cell_id",
            F.coalesce("__pruned", F.lit(False)).alias("pruned"),
            "quality_score",
        )
    )


def semdedup_incremental(
    batch: DataFrame,
    corpus_cells: DataFrame,
    centroids: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = None,
) -> DataFrame:
    """Ingest-time SemDeDup (the embedding-lane analog of
    ``dedup.incremental_band_join``): assign ONLY the delta batch to
    cells (broadcast centroids, map-side argmin) and probe the
    PERSISTED corpus cell index — ``(id, vec, cell_id)``, built once
    by :func:`assign_cells` and maintained across ingests — within
    matching cells only. The corpus is never re-assigned, and the only
    data-sized join is delta×same-cell-index.

    Returns one row per batch vector:
    (id, cell_id, n_matches, max_sim, is_novel) where matches are
    corpus members with rounded cosine ≥ ``threshold``; ``max_sim`` is
    NULL for novel vectors.

    ``max_cell`` is the hot-cell guard (the cell-lane analog of
    ``incremental_band_join``'s ``max_bucket``): a cell holding s
    index members costs O(|delta∩cell|·s) comparisons, and a
    mass-duplicated embedding (boilerplate re-encoded millions of
    times) concentrates them into ONE cell. With the cap set, cells
    whose INDEX population exceeds it are excluded from probing —
    batch members landing there report n_matches = 0 with is_novel
    NULL (unknown, routed to the boilerplate handler), never a
    quadratic join."""
    bc = assign_cells(batch, centroids, id_col=id_col, vec_col=vec_col)
    idx = corpus_cells.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"), "cell_id"
    )
    hot = None
    if max_cell is not None:
        # materialize the (tiny) hot-cell set once: its lineage is a
        # full aggregate over the corpus index, and it feeds BOTH the
        # anti-join and the verdict join — without the checkpoint each
        # ingest batch would pay that scan twice (the per-ingest cost
        # the incremental design exists to avoid). Eager by design.
        hot = (
            idx.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("__s"))
            .filter(F.col("__s") > max_cell)
            .select("cell_id")
            .withColumn("__hot", F.lit(True))
            .localCheckpoint()
        )
        idx = idx.join(hot.select("cell_id"), "cell_id", "left_anti")
    m = (
        bc.join(idx, "cell_id")
        .withColumn("__s", F.round(cosine(F.col(vec_col), F.col("__cv")), 6))
        .filter(F.col("__s") >= threshold)
    )
    agg = m.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.max("__s").alias("max_sim"),
    )
    out = bc.join(agg, id_col, "left")
    if hot is not None:
        out = out.join(F.broadcast(hot), "cell_id", "left")
        novel = F.when(F.col("__hot"), F.lit(None).cast("boolean")).otherwise(
            F.col("__n").isNull()
        )
    else:
        novel = F.col("__n").isNull()
    return out.select(
        id_col,
        "cell_id",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_matches"),
        "max_sim",
        novel.alias("is_novel"),
    )


def pq_assign(
    vectors: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``n_sub``
    contiguous ``sub_dim``-wide subspaces and assign each subvector to
    its nearest codeword in that subspace's codebook (squared-euclidean
    argmin, tiebroken by code id) — the memory-compression half of the
    IVF-PQ ANN story (q288's int8 lane is the scalar sibling).

    ``codebooks`` is a BROADCAST literal frame ``(m int, k int,
    cw array<double>)`` — n_sub x K rows. Returns one row per (vector,
    subspace): (id, m, k, cw). The argmin window runs over K rows per
    subvector, never over the data; the distance fold is the same
    sequential ``zip_with``/``aggregate`` as :func:`dot`, so a DuckDB
    ``list_sum(list_transform(...))`` oracle is bit-identical."""
    subs = vectors.sparkSession.createDataFrame(
        [(m,) for m in range(n_sub)], "m int"
    )
    sv = F.slice(F.col(vec_col), F.col("m") * sub_dim + 1, sub_dim)
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sv"),
            F.col("cw"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy(id_col, "m").orderBy(d2.asc(), F.col("k").asc())
    return (
        vectors.select(id_col, vec_col)
        .crossJoin(F.broadcast(subs))
        .select(id_col, "m", sv.alias("__sv"))
        .join(F.broadcast(codebooks), "m")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "m", "k", "cw")
    )


def pq_reconstruct(
    assignments: DataFrame, *, id_col: str = "vec_id"
) -> DataFrame:
    """Decode PQ assignments back to full vectors: concatenate each
    vector's chosen codewords in subspace order. Returns (id,
    reconstructed array<double>) — one groupBy keyed on the id, the
    per-group list is exactly n_sub elements."""
    return assignments.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cw"))),
                lambda s: s.getField("cw"),
            )
        ).alias("reconstructed")
    )
