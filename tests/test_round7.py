"""Round-7 operator tests: exact-substring decontamination (planted
verbatim overlaps, stride-guarantee boundary) and SemDeDup embedding-
cluster dedup (survivor invariants, clone pruning, scale gate)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from databricks_etl_spark.operators.similarity import semdedup_prune
from databricks_etl_spark.operators.text import char_grams, exact_substring_hits


def _docs(spark, rows, id_name="doc_id"):
    return spark.createDataFrame(rows, f"{id_name} long, text string")


def test_exact_substring_planted_overlap(spark):
    """A 49-char verbatim benchmark span inside a training doc is
    found; an unrelated doc is not; the reported count equals the
    number of stride-sampled corpus grams inside the span."""
    span = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TODAY"  # 49 chars
    corpus = _docs(
        spark,
        [
            (1, "x" * 10 + span + "y" * 10),
            (2, "totally unrelated content with no verbatim benchmark text"),
        ],
    )
    bench = _docs(spark, [(100, "zzz " + span + " qqq")], id_name="bench_id")
    out = exact_substring_hits(corpus, bench, length=24, stride=8).collect()
    assert len(out) == 1
    assert (out[0].doc_id, out[0].bench_id) == (1, 100)
    assert out[0].n_grams_hit >= 1


def test_exact_substring_stride_guarantee(spark):
    """Detection contract: a common substring of length
    >= L + stride - 1 (= 31 for L=24, s=8) is ALWAYS hit regardless of
    alignment; below the gram length L nothing can match."""
    span31 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ01234"  # 31 chars
    assert len(span31) == 31
    bench = _docs(spark, [(100, "<<" + span31 + ">>")], id_name="bench_id")
    for offset in range(8):  # every alignment of the span in the doc
        corpus = _docs(spark, [(1, "x" * (10 + offset) + span31 + "y" * 10)])
        got = exact_substring_hits(corpus, bench, length=24, stride=8).collect()
        assert len(got) == 1, f"span missed at alignment {offset}"

    short = "ABCDEFGHIJKLMNOPQRSTUVW"  # 23 chars < L
    corpus = _docs(spark, [(1, "x" * 10 + short + "y" * 20)])
    bench2 = _docs(spark, [(100, "-- " + short + " --")], id_name="bench_id")
    assert exact_substring_hits(corpus, bench2, length=24, stride=8).count() == 0


def test_char_grams_stride_and_dedup(spark):
    """char_grams emits distinct grams at exactly the stride offsets,
    and drops docs shorter than the gram length."""
    df = _docs(spark, [(1, "abcdefghij"), (2, "abc")])
    got = char_grams(df, 4, 3).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, set()).add(r.gram)
    # offsets 1, 4, 7 of "abcdefghij" -> abcd, defg, ghij
    assert by_doc == {1: {"abcd", "defg", "ghij"}}


def _clone_corpus(spark):
    """3 exact clone-groups of embeddings + 1 singleton; equal quality
    inside each group so the survivor rule falls to vec_id ASC."""
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.5, 0.5, 0.5, 0.0],
    ]
    rows = []
    vid = 0
    for g, v in enumerate(base):
        for _ in range(3 if g < 3 else 1):
            rows.append((vid, v))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    quality = spark.createDataFrame(
        [(i, 1.0) for i, _ in rows], "vec_id long, quality_score double"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "cid int, centroid array<double>",
    )
    return vecs, quality, cents


def test_semdedup_prunes_clones_keeps_survivor(spark):
    """Exact clones land in one cell (cosine 1.0 >= τ); every clone
    except the lowest-id (equal quality) is pruned; the singleton and
    each group's survivor pass through."""
    vecs, quality, cents = _clone_corpus(spark)
    out = {r.vec_id: r for r in semdedup_prune(vecs, cents, quality, 0.95).collect()}
    assert len(out) == 10  # one row per vector, nothing lost
    survivors = {v for v, r in out.items() if not r.pruned}
    assert survivors == {0, 3, 6, 9}  # group minima + singleton


def test_semdedup_cell_top_priority_never_pruned(spark):
    """In every cell the max-priority member survives (the dominance
    rule is a strict order, so the top element has no dominator)."""
    vecs, quality, cents = _clone_corpus(spark)
    out = semdedup_prune(vecs, cents, quality, 0.5)
    top = out.groupBy("cell_id").agg(F.min(F.when(~F.col("pruned"), F.col("vec_id"))).alias("surv"))
    assert top.filter(F.col("surv").isNull()).count() == 0


def test_semdedup_declared_dim_rejects_wider_vector(spark):
    """A declared ``dim`` is a contract on every vector: one planted
    vector of dim+1 elements fails the query instead of being cut to
    its first ``dim`` elements by the flat pair dot."""
    vecs, quality, cents = _clone_corpus(spark)
    wide = spark.createDataFrame(
        [(99, [1.0, 0.0, 0.0, 0.0, 0.5])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="has 5 elements, dim=4 was declared"):
        semdedup_prune(
            vecs.unionByName(wide), cents, quality, 0.95, dim=4
        ).collect()


@pytest.mark.slow
def test_semdedup_scale_gate_8x(spark, sf_dir):
    """8× duplicated corpus through the q285 body: completes with one
    row per vector and the plan contains no CartesianProduct — the
    only nested-loop is the 8-row centroid broadcast; candidate pairs
    come from the within-cell equi-join."""
    from databricks_etl_spark.plans.queries_round7 import (
        _Q285_CENTS,
        _Q285_T,
    )
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    big = e
    for i in range(1, 8):
        big = big.unionByName(
            e.select((F.col("vec_id") + F.lit(i * 100000)).alias("vec_id"),
                     "embedding", "label")
        )
    quality = TX.quality_features(d).select(
        F.col("doc_id").alias("vec_id"), "quality_score"
    )
    qbig = quality
    for i in range(1, 8):
        qbig = qbig.unionByName(
            quality.select((F.col("vec_id") + F.lit(i * 100000)).alias("vec_id"),
                           "quality_score")
        )
    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    out = semdedup_prune(big, cents, qbig, _Q285_T)
    n_in = big.count()
    assert out.count() == n_in
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # every original vector now has 8 exact clones -> at least 7/8 of
    # rows are pruned (clones always share a cell and have cosine 1.0)
    n_pruned = out.filter("pruned").count()
    assert n_pruned >= n_in * 7 // 8


def test_band_ledger_three_ingest_e2e(spark, smoke_sf_dir, tmp_path):
    """Cross-run dedup ledger through the jsonl DataSource sink: three
    ingests, each banding ONLY its own delta and appending those bands
    to a durable jsonl ledger; run 3's incremental candidates against
    the READ-BACK ledger must equal a from-scratch recompute that
    re-bands runs 1+2 as the corpus. Closes the loop between
    ``incremental_band_join`` (q252/q256) and a persisted index — no
    ingest ever re-reads or re-shingles prior corpus text."""
    from databricks_etl_spark.operators import text as TX
    from databricks_etl_spark.operators.dedup import incremental_band_join
    from databricks_etl_spark.plans.queries_round4 import _band_buckets
    from databricks_etl_spark.sources import pydatasource as PDS
    from databricks_etl_spark.sources.readers import read_table

    PDS.register(spark)
    ledger = str(tmp_path / "band_ledger")
    d = read_table(spark, smoke_sf_dir, "documents")
    runs = [
        d.filter(F.col("doc_id") % 3 == i).select("doc_id", "text")
        for i in range(3)
    ]
    bands = [
        _band_buckets(spark, smoke_sf_dir, shingle_set=TX.shingles(r, 3).distinct())
        for r in runs
    ]
    schema = "doc_id long, band int, band_hash string"

    bands[0].write.format("pyjsonl").option("path", ledger).mode("append").save()
    led1 = spark.read.schema(schema).json(ledger)
    assert incremental_band_join(bands[1], led1).count() >= 0
    bands[1].write.format("pyjsonl").option("path", ledger).mode("append").save()

    led2 = spark.read.schema(schema).json(ledger)
    got = sorted(map(tuple, incremental_band_join(bands[2], led2).collect()))

    corpus = runs[0].unionByName(runs[1])
    corpus_bands = _band_buckets(
        spark, smoke_sf_dir, shingle_set=TX.shingles(corpus, 3).distinct()
    )
    ref = sorted(map(tuple, incremental_band_join(bands[2], corpus_bands).collect()))
    assert got == ref
    assert len(got) > 0  # the corpus plants near-dup clusters across runs


def test_semdedup_incremental_novelty_semantics(spark):
    """Batch vectors probe ONLY their own cell: an exact clone of a
    corpus vector is flagged (n_matches >= 1, max_sim = 1.0); an
    orthogonal new vector is novel with a NULL max_sim."""
    from databricks_etl_spark.operators.similarity import (
        assign_cells,
        semdedup_incremental,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid int, centroid array<double>",
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.1, 0.0, 0.0]), (2, [0.0, 1.0, 0.1, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cells = assign_cells(corpus, cents)
    batch = spark.createDataFrame(
        [(10, [1.0, 0.1, 0.0, 0.0]),   # clone of corpus 1
         (11, [0.0, 0.9, -0.9, 0.0])], # near-orthogonal to both
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in
           semdedup_incremental(batch, cells, cents, 0.95).collect()}
    assert out[10].n_matches >= 1 and not out[10].is_novel
    assert abs(out[10].max_sim - 1.0) < 1e-9
    assert out[11].is_novel and out[11].n_matches == 0
    assert out[11].max_sim is None


def test_semdedup_prune_missing_quality_retained(spark):
    """One-row-per-vector contract: a vector ABSENT from the quality
    frame still appears (NULL score), ranks below every scored member
    (so its scored near-dup survives over it), and two unscored
    near-dups tiebreak on id."""
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid int, centroid array<double>"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    quality = spark.createDataFrame(  # vec 2 and 3 unscored
        [(1, 0.5)], "vec_id long, quality_score double"
    )
    out = {r.vec_id: r for r in
           semdedup_prune(vecs, cents, quality, 0.95).collect()}
    assert set(out) == {1, 2, 3}  # nothing dropped
    assert not out[1].pruned          # scored member survives
    assert out[2].pruned and out[3].pruned  # unscored clones pruned
    assert out[2].quality_score is None


def test_streaming_semdedup_zero_pairs_drain(spark, smoke_sf_dir):
    """A drain where no delta has any semantic match (threshold above
    every attainable similarity) returns an all-novel verdict frame —
    not an UNABLE_TO_INFER_SCHEMA crash on the empty pairs sink."""
    from databricks_etl_spark.plans.queries_round7 import _Q285_CENTS
    from databricks_etl_spark.streaming.semdedup import run_streaming_semdedup

    cents = spark.createDataFrame(
        list(enumerate(_Q285_CENTS)), "cid int, centroid array<double>"
    )
    out = run_streaming_semdedup(
        spark, smoke_sf_dir, cents, 1.01, id_offset=77_000_000_000
    ).collect()
    assert len(out) == 100  # every 5th of 500 vectors
    assert all(r.is_novel and r.n_matches == 0 and r.max_sim is None
               for r in out)


def test_semdedup_incremental_hot_cell_cap(spark):
    """max_cell guard: an over-populated index cell is excluded from
    probing — batch members landing there report is_novel NULL
    (unknown), not a quadratic join result; normal cells unaffected."""
    from databricks_etl_spark.operators.similarity import (
        assign_cells,
        semdedup_incremental,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, centroid array<double>"
    )
    # cell 0 holds 5 index members (hot at cap 3); cell 1 holds one
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.001 * i]) for i in range(5)] + [(99, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cells = assign_cells(corpus, cents)
    batch = spark.createDataFrame(
        [(201, [1.0, 0.0]), (202, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in
           semdedup_incremental(batch, cells, cents, 0.9, max_cell=3).collect()}
    assert out[201].is_novel is None and out[201].n_matches == 0  # hot cell
    assert out[202].is_novel is False and out[202].n_matches == 1

    # uncapped: the hot cell is probed normally
    full = {r.vec_id: r for r in
            semdedup_incremental(batch, cells, cents, 0.9).collect()}
    assert full[201].n_matches == 5


def test_geo_radius_antimeridian_wrap(spark, sf_dir):
    """The grid neighborhood wraps across lon ±180: a consecutive
    custkey pair straddling the antimeridian (derived from the
    closed-form lon(k) = (7k mod 36000)/100 − 180, so (7k mod 36000)
    + 7 >= 36000 puts k at lon ≈ +179.9x and k+1 wrapped to ≈ −180)
    must appear in the radius join — an unwrapped cx join would
    silently drop it while parity stays green (the oracle shares the
    construction). The pair is derived, not hardcoded, so the test
    follows the sf_dir fixture; if the configured SF's key range
    contains no straddling pair (true below custkey 5142, e.g.
    sf0.01) it falls back to the largest sibling SF that does."""
    import glob
    import os

    import pyspark.sql.functions as F

    from databricks_etl_spark.plans.queries_round7 import (
        _geo_neighbor_distances,
    )
    from databricks_etl_spark.sources.readers import read_table

    def wrap_pair(max_key):
        return next(
            (
                (k, k + 1)
                for k in range(1, max_key)
                if (7 * k) % 36000 + 7 >= 36000
            ),
            None,
        )

    def max_key(d):
        return read_table(spark, d, "customer").agg(F.max("c_custkey")).first()[0]

    use_dir, pair = sf_dir, wrap_pair(max_key(sf_dir))
    if pair is None:
        for cand in sorted(
            (
                p
                for p in glob.glob(
                    os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf*")
                )
                if os.path.exists(os.path.join(p, "customer.parquet"))
            ),
            key=lambda p: -os.path.getsize(os.path.join(p, "customer.parquet")),
        ):
            pair = wrap_pair(max_key(cand))
            if pair is not None:
                use_dir = cand
                break
    if pair is None:
        pytest.skip("no SF with an antimeridian-straddling custkey pair")

    d = _geo_neighbor_distances(spark, use_dir)
    hit = d.filter(
        (F.col("id_a") == pair[0]) & (F.col("id_b") == pair[1])
    ).collect()
    assert len(hit) == 1 and hit[0].dist_km < 40.0, (pair, hit)
