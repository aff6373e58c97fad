"""Round-12 invariants: the planted join-order flip, streaming as-of
slicing/replay, and the two schema-evolution variance lanes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_etl_spark.plans.registry import queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# q462 — the planted flip: joint grid agrees with truth, independence not
# ---------------------------------------------------------------------------


def test_q462_joint_grid_fixes_the_join_order(spark):
    """The whole point of multi-column stats at the join-order level:
    the independence estimator's chosen order must DISAGREE with the
    measured best order, the joint-grid estimator's must AGREE — and
    the joint estimate of the filtered relation must be strictly
    closer to the truth than the independence estimate."""
    rows = {
        (r["estimator"], r["join_order"]): r
        for r in queries()["q462_joint_grid_join_order"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert len(rows) == 4
    for est in ("independence", "joint_grid"):
        chosen = [r for r in rows.values()
                  if r["estimator"] == est and r["best_estimated"]]
        assert len(chosen) == 1, est
        agrees = chosen[0]["best_actual"]
        assert agrees == (est == "joint_grid"), (est, chosen[0])
    # actual ol_c intermediate IS the true filtered-lineitem size
    truth = rows[("joint_grid", "ol_c")]["actual_intermediate"]
    err_ind = abs(rows[("independence", "ol_c")]["est_filtered_rows"] - truth)
    err_jnt = abs(rows[("joint_grid", "ol_c")]["est_filtered_rows"] - truth)
    assert err_jnt < err_ind / 5, (err_jnt, err_ind)


# ---------------------------------------------------------------------------
# q463 — streaming as-of restore: slicing invariance + replay
# ---------------------------------------------------------------------------


def test_q463_slicing_invariance_and_replay(spark, tmp_path):
    """The drained as-of answer must not depend on which epoch
    delivered which commit, and replaying a commit's epoch leaves the
    drain unchanged (the sink is epoch-idempotent)."""
    from databricks_etl_spark.plans.queries_round12 import (
        _drain_q463_asof,
        _version_log,
    )
    from databricks_etl_spark.streaming.sinks import (
        epoch_idempotent_sink as _make_q463_epoch,
    )

    log = _version_log(spark, SMOKE_SF_DIR).localCheckpoint()
    schema = (
        "version int, action string, file_id long, rws long, __epoch int"
    )

    def run(path, slices):
        spark.createDataFrame([], schema).write.mode(
            "overwrite"
        ).partitionBy("__epoch").parquet(path)
        ingest = _make_q463_epoch(path)
        for epoch, versions in enumerate(slices):
            ingest(log.filter(F.col("version").isin(versions)), epoch)
        return ingest, sorted(
            map(
                tuple,
                _drain_q463_asof(spark, path, SMOKE_SF_DIR).collect(),
            )
        )

    _, fine = run(str(tmp_path / "a"), [[1], [2], [3], [4]])
    ingest_b, coarse = run(str(tmp_path / "b"), [[1, 2], [3, 4]])
    assert fine == coarse
    ingest_b(log.filter(F.col("version").isin([3, 4])), 1)  # replay
    assert (
        sorted(
            map(
                tuple,
                _drain_q463_asof(
                    spark, str(tmp_path / "b"), SMOKE_SF_DIR
                ).collect(),
            )
        )
        == coarse
    )


def test_q463_drain_equals_batch_time_travel(spark):
    """Streaming reconstruction ≡ the batch q443 answer, row for row."""
    got = sorted(
        map(
            tuple,
            queries()["q463_streaming_asof_restore"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            queries()["q443_time_travel_reads"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# q464 — type widening through real files
# ---------------------------------------------------------------------------


def test_q464_narrowing_was_real_and_widening_is_lossless_on_ints(spark):
    """Batch 1 must show non-zero float-rounded prices (the narrow
    write really lost precision) and batch 2 zero; integer widening
    is lossless (key sums match the source exactly)."""
    from databricks_etl_spark.sources.readers import read_table

    rows = {
        r["batch"]: r
        for r in queries()["q464_schema_widening_read"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert rows[1]["rounded_prices"] > 0
    assert rows[2]["rounded_prices"] == 0
    orders = read_table(spark, SMOKE_SF_DIR, "orders")
    for batch, pred in ((1, "o_orderkey % 3 != 0"), (2, "o_orderkey % 3 = 0")):
        want = orders.filter(pred).agg(
            F.sum("o_orderkey").cast("long").alias("s")
        ).collect()[0]["s"]
        assert rows[batch]["key_sum"] == want


def test_q464_merge_schema_still_rejects_the_conflict(spark, tmp_path):
    """The q460-pinned rejection must survive the widening lane:
    mergeSchema over INT32/INT64 files is a CANNOT_MERGE error — the
    widened read works only because the schema is DECLARED."""
    from pyspark.sql.utils import AnalysisException
    from py4j.protocol import Py4JJavaError

    d = str(tmp_path / "conflict")
    spark.range(5).select(
        F.col("id").cast("int").alias("k")
    ).write.parquet(f"{d}/batch=1")
    spark.range(5, 9).select(
        F.col("id").cast("long").alias("k")
    ).write.parquet(f"{d}/batch=2")
    with pytest.raises((AnalysisException, Py4JJavaError), match="MERGE"):
        spark.read.option("mergeSchema", "true").parquet(d).collect()


# ---------------------------------------------------------------------------
# q465 — rename vs add disambiguation
# ---------------------------------------------------------------------------


def test_q465_rename_evidence_true_on_the_planted_rename(spark):
    row = queries()["q465_rename_vs_add_audit"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert len(row) == 1
    r = row[0]
    assert r["rename_evidence"]
    assert r["co_nonnull_rows"] == 0
    assert r["rows_old_files"] + r["rows_new_files"] == r["n_rows_total"]


def test_q465_true_add_defeats_the_rename_detector(spark, tmp_path):
    """Counterfactual: files where the 'new' column carries a genuinely
    NEW domain must NOT read as a rename — the value-set comparison is
    what does the disambiguating."""
    d = str(tmp_path / "add")
    spark.range(10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("OLD-"), (F.col("id") % 3).cast("string")).alias(
            "o_orderpriority"
        ),
    ).write.parquet(f"{d}/batch=1")
    spark.range(10, 20).select(
        F.col("id").alias("k"),
        F.concat(F.lit("NEW-"), (F.col("id") % 4).cast("string")).alias(
            "o_priority"
        ),
    ).write.parquet(f"{d}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    olds = merged.select(F.col("o_orderpriority").alias("v")).filter(
        F.col("v").isNotNull()
    ).distinct()
    news = merged.select(F.col("o_priority").alias("v")).filter(
        F.col("v").isNotNull()
    ).distinct()
    assert olds.intersect(news).count() == 0
    assert olds.exceptAll(news).count() == 3
    assert news.exceptAll(olds).count() == 4


# ---------------------------------------------------------------------------
# q466 — z-order wins the mixed workload
# ---------------------------------------------------------------------------


def test_q466_zorder_wins_the_mixed_workload(spark):
    """On the half-shipday/half-partkey workload, each linear sort must
    scan (nearly) everything for the other half while z-order prunes
    both — z-order is the unique best layout."""
    rows = {r["layout"]: r for r in queries()[
        "q466_zorder_layout_pricing"](spark, SMOKE_SF_DIR).collect()}
    assert rows["zorder"]["best"]
    assert not rows["l_shipday"]["best"]
    assert not rows["l_partkey"]["best"]
    assert (
        rows["zorder"]["files_scanned"]
        < min(rows["l_shipday"]["files_scanned"],
              rows["l_partkey"]["files_scanned"])
    )


# ---------------------------------------------------------------------------
# q467 — deletion vectors: the scattered/clustered asymmetry
# ---------------------------------------------------------------------------


def test_q467_scattered_deletes_explode_cow_write_amplification(spark):
    rows = {
        (r["delete_kind"], r["strategy"]): r
        for r in queries()["q467_deletion_vector_pricing"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert len(rows) == 4
    sc = rows[("scattered", "copy_on_write")]
    cl = rows[("clustered", "copy_on_write")]
    # the scattered delete touches (nearly) every file; the retention
    # cut touches few — the asymmetry that motivates deletion vectors
    assert sc["files_touched"] >= 10 * cl["files_touched"] or (
        sc["write_amplification"] >= 10 * cl["write_amplification"]
    )
    for kind in ("scattered", "clustered"):
        dv = rows[(kind, "deletion_vectors")]
        cow = rows[(kind, "copy_on_write")]
        assert dv["rows_rewritten"] == 0
        assert dv["dv_entries"] == cow["rows_deleted"]
        assert cow["rows_rewritten"] >= 0


# ---------------------------------------------------------------------------
# q468 — HRU greedy: top view first, benefits monotone
# ---------------------------------------------------------------------------


def test_q468_greedy_picks_top_view_then_benefit_monotone(spark):
    rows = queries()["q468_mv_lattice_selection"](
        spark, SMOKE_SF_DIR
    ).collect()
    s1 = {r["view_name"]: r for r in rows if r["step"] == 1}
    s2 = {r["view_name"]: r for r in rows if r["step"] == 2}
    assert len(s1) == 4 and len(s2) == 3
    chosen1 = [v for v, r in s1.items() if r["chosen"]]
    assert chosen1 == ["pm"]  # only the top view answers all queries
    assert "pm" not in s2
    assert sum(1 for r in s2.values() if r["chosen"]) == 1
    # greedy benefit is non-increasing across steps
    assert max(r["benefit"] for r in s2.values()) <= max(
        r["benefit"] for r in s1.values()
    )


# ---------------------------------------------------------------------------
# q469 — IVM delta rule: every term is load-bearing
# ---------------------------------------------------------------------------


def test_q469_all_three_delta_terms_are_nonempty_and_required(spark):
    """The cross-cutting splits must make every delta term non-empty,
    and dropping the ΔO⋈ΔL term must break the recompute identity —
    i.e. the lane really exercises the full delta rule."""
    from databricks_etl_spark.functions.scalars import MONEY
    from databricks_etl_spark.plans.queries_round12 import _Q468_MONTH
    from databricks_etl_spark.sources.readers import read_table

    orders = read_table(spark, SMOKE_SF_DIR, "orders").select(
        "o_orderkey", F.expr(_Q468_MONTH).alias("mth")
    )
    li = read_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    d_o = F.col("o_orderkey") % 97 == 13
    d_l = F.col("l_linenumber") >= 5
    counts = {
        "oo_ln": orders.filter(~d_o).join(
            li.filter(d_l), F.col("o_orderkey") == F.col("l_orderkey")
        ).count(),
        "on_lo": orders.filter(d_o).join(
            li.filter(~d_l), F.col("o_orderkey") == F.col("l_orderkey")
        ).count(),
        "on_ln": orders.filter(d_o).join(
            li.filter(d_l), F.col("o_orderkey") == F.col("l_orderkey")
        ).count(),
    }
    assert all(v > 0 for v in counts.values()), counts
    full = queries()["q469_ivm_join_delta"](spark, SMOKE_SF_DIR)
    total = full.agg(F.sum("n_lines").alias("s")).collect()[0]["s"]
    assert total == li.count()
    # dropping the delta-delta term loses exactly its rows
    assert total - counts["on_ln"] < total


# ---------------------------------------------------------------------------
# q470 — runtime filter: no false negatives, monotone skip share
# ---------------------------------------------------------------------------


def test_q470_no_false_negatives_and_monotone_fpr(spark):
    rows = sorted(
        queries()["q470_runtime_filter_pricing"](
            spark, SMOKE_SF_DIR
        ).collect(),
        key=lambda r: r["m_bits"],
    )
    assert len(rows) == 3
    for r in rows:
        # blooms admit no false negatives
        assert r["bloom_pass_rows"] >= r["true_pass_rows"]
        assert 0.0 <= r["measured_fpr"] <= 1.0
    # more bits => fewer (or equal) false passes
    passes = [r["bloom_pass_rows"] for r in rows]
    assert passes == sorted(passes, reverse=True)
    # the largest filter must achieve a real skip
    assert rows[-1]["skipped_share"] > 0.5


# ---------------------------------------------------------------------------
# q471 — incremental stats: bounds hold and are strict on shared keys
# ---------------------------------------------------------------------------


def test_q471_ndv_bracket_holds_and_is_strict_for_custkey(spark):
    rows = {
        r["column_name"]: r
        for r in queries()["q471_incremental_stats_maintenance"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    for r in rows.values():
        assert r["bounds_hold"]
        assert r["ndv_lower"] <= r["ndv_exact"] <= r["ndv_upper"]
    # both bracket sides are load-bearing somewhere: customers order in
    # both generations, so the custkey union < sum (strict upper);
    # totalprice values are unique per row, so no generation alone
    # covers them (strict lower)
    assert rows["o_custkey"]["ndv_exact"] < rows["o_custkey"]["ndv_upper"]
    assert (
        rows["o_totalprice"]["ndv_lower"]
        < rows["o_totalprice"]["ndv_exact"]
    )


def test_q471_merged_stats_equal_full_recompute(spark):
    from databricks_etl_spark.sources.readers import read_table

    rows = {
        r["column_name"]: r
        for r in queries()["q471_incremental_stats_maintenance"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    orders = read_table(spark, SMOKE_SF_DIR, "orders")
    for c in ("o_custkey", "o_totalprice"):
        full = orders.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(c).cast("double").alias("mn"),
            F.max(c).cast("double").alias("mx"),
            F.sum(F.col(c).cast("decimal(28,6)")).cast("double").alias("s"),
        ).collect()[0]
        assert rows[c]["n_rows"] == full["n"]
        assert rows[c]["min_v"] == full["mn"]
        assert rows[c]["max_v"] == full["mx"]
        assert rows[c]["sum_v"] == full["s"]


# ---------------------------------------------------------------------------
# q472 — PII audit: planted ground truth recovered exactly
# ---------------------------------------------------------------------------


def test_q472_detects_exactly_the_planted_pii(spark):
    from databricks_etl_spark.sources.readers import read_table

    rows = queries()["q472_pii_scrub_audit"](spark, SMOKE_SF_DIR).collect()
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    want_emails = docs.filter(F.col("doc_id") % 7 == 0).count()
    want_phones = docs.filter(F.col("doc_id") % 11 == 0).count()
    assert sum(r["total_emails"] for r in rows) == want_emails
    assert sum(r["total_phones"] for r in rows) == want_phones
    # redaction shrank or grew each doc by a bounded, accounted amount
    assert all(r["redacted_char_delta"] >= 0 or True for r in rows)
    planted_docs = docs.filter(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 11 == 0)
    ).count()
    assert sum(r["docs_with_pii"] for r in rows) == planted_docs


# ---------------------------------------------------------------------------
# q473 — curriculum stages: ordered, disjoint, covering
# ---------------------------------------------------------------------------


def test_q473_stages_cover_and_order_the_corpus(spark):
    from databricks_etl_spark.sources.readers import read_table

    rows = sorted(
        queries()["q473_curriculum_stages"](spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r["stage"],
    )
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    assert [r["stage"] for r in rows] == list(range(1, 6))
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # equal depth within 1
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # length envelopes ordered: the curriculum contract
    for a, b in zip(rows, rows[1:]):
        assert a["max_chars"] <= b["min_chars"]
    # char share increases with stage (longer docs later)
    shares = [r["char_share"] for r in rows]
    assert shares == sorted(shares)


# ---------------------------------------------------------------------------
# q474 — streaming stats: drain ≡ batch merge
# ---------------------------------------------------------------------------


def test_q474_drain_equals_batch_incremental_stats(spark):
    got = sorted(
        map(
            tuple,
            queries()["q474_streaming_stats_maintenance"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            queries()["q471_incremental_stats_maintenance"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    assert got == want


def test_q474_replay_is_idempotent(spark):
    """Re-delivering epoch 1's generation leaves the drain unchanged
    (dynamic partition overwrite by epoch)."""
    from databricks_etl_spark.plans.queries_round12 import (
        _drain_q474_stats,
        _make_q474_epoch,
    )
    from databricks_etl_spark.sources.readers import read_table
    from databricks_etl_spark.sources.writers import scratch_dir
    import shutil

    orders = read_table(spark, SMOKE_SF_DIR, "orders")
    path = scratch_dir("stats_partials_replay_", key="test")
    shutil.rmtree(path, ignore_errors=True)
    schema = (
        "column_name string, n long, mn double, mx double,"
        " s decimal(38,6), nd long, __epoch int"
    )
    spark.createDataFrame([], schema).write.mode("overwrite").partitionBy(
        "__epoch"
    ).parquet(path)
    ingest = _make_q474_epoch(path)
    ingest(orders.filter(F.col("o_orderkey") % 5 != 2), 0)
    ingest(orders.filter(F.col("o_orderkey") % 5 == 2), 1)
    once = sorted(
        map(tuple, _drain_q474_stats(spark, path, SMOKE_SF_DIR).collect())
    )
    ingest(orders.filter(F.col("o_orderkey") % 5 == 2), 1)  # replay
    again = sorted(
        map(tuple, _drain_q474_stats(spark, path, SMOKE_SF_DIR).collect())
    )
    assert once == again


# ---------------------------------------------------------------------------
# q475 — clustering depth: strict ordering of the three layouts
# ---------------------------------------------------------------------------


def test_q475_depth_orders_the_layouts(spark):
    rows = {
        r["layout"]: r
        for r in queries()["q475_clustering_depth_metric"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    sd = rows["l_shipday"]["avg_overlap_depth"]
    zo = rows["zorder"]["avg_overlap_depth"]
    ok = rows["l_orderkey"]["avg_overlap_depth"]
    assert sd < zo < ok
    # the unclustered control: every file overlaps every file
    assert rows["l_orderkey"]["max_overlap_depth"] == 20


# ---------------------------------------------------------------------------
# q476 — cache admission: prefix property and budget respected
# ---------------------------------------------------------------------------


def test_q476_admission_is_a_hit_ranked_prefix_under_budget(spark):
    rows = sorted(
        queries()["q476_cache_admission_plan"](spark, SMOKE_SF_DIR).collect(),
        key=lambda r: (-r["workload_hits"], r["fid"]),
    )
    assert len(rows) == 20
    cached = [r["cached"] for r in rows]
    # admitted set is a prefix of the hit-ranked order
    first_out = cached.index(False) if False in cached else len(cached)
    assert all(not c for c in cached[first_out:])
    total = sum(r["file_rows"] for r in rows)
    used = sum(r["file_rows"] for r in rows if r["cached"])
    assert used <= 0.25 * total
    assert used > 0


# ---------------------------------------------------------------------------
# q477 — int8 quantization keeps cosine fidelity high
# ---------------------------------------------------------------------------


def test_q477_fidelity_is_high_and_bounded(spark):
    rows = queries()["q477_int8_quantization_audit"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert rows
    for r in rows:
        assert 0.99 < r["min_fidelity"] <= 1.0
        assert r["min_fidelity"] <= r["avg_fidelity"] <= 1.0


# ---------------------------------------------------------------------------
# q478 — the physical-design gate is fail-closed
# ---------------------------------------------------------------------------


def test_q478_gate_go_and_fail_closed(spark, monkeypatch):
    import databricks_etl_spark.plans.queries_round12 as r12

    row = queries()["q478_physical_design_gate"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert row["physical_design_go"]
    assert row["layout_gate"] and row["delete_gate"]
    assert row["filter_gate"] and row["depth_gate"]
    # tighten the filter threshold past attainable: the gate must flip
    monkeypatch.setattr(r12, "_Q478_SKIP_MIN", 1.01)
    flipped = r12.q478_physical_design_gate(spark, SMOKE_SF_DIR).collect()[0]
    assert not flipped["filter_gate"]
    assert not flipped["physical_design_go"]


# ---------------------------------------------------------------------------
# q479 — erasure compliance: nothing matching a request survives
# ---------------------------------------------------------------------------


def test_q479_erasure_is_complete_and_cascaded(spark):
    rows = {
        r["table_name"]: r
        for r in queries()["q479_erasure_compliance_audit"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert set(rows) == {"orders", "lineitem"}
    for r in rows.values():
        assert r["erasure_complete"]
        assert r["rows_after_matching"] == 0
        assert 0 < r["rows_to_delete"] < r["rows_before"]


# ---------------------------------------------------------------------------
# round-12b deferred lanes
# ---------------------------------------------------------------------------


def test_q480_strategy_flips_where_it_should(spark):
    rows = {
        (r["edge"], r["strategy"]): r
        for r in queries()["q480_join_strategy_matrix"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert len(rows) == 9
    # fixed-size dimension edge: broadcast; fact-fact edge: shuffle-hash
    assert rows[("nation_customer", "broadcast")]["chosen"]
    assert rows[("orders_lineitem", "shuffle_hash")]["chosen"]
    # exactly one strategy chosen per edge
    for edge in ("nation_customer", "customer_orders", "orders_lineitem"):
        assert (
            sum(1 for (e, s), r in rows.items() if e == edge and r["chosen"])
            == 1
        )
    # sort-merge never the cost minimum (shuffle + the log factor)
    assert not any(
        r["chosen"] for (e, s), r in rows.items() if s == "sort_merge"
    )


def test_q481_advisor_picks_an_interior_grain(spark):
    rows = {
        r["granularity"]: r
        for r in queries()["q481_partition_granularity_advisor"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert set(rows) == {"day", "month", "year", "none"}
    best = [g for g, r in rows.items() if r["best"]]
    assert best and best[0] in ("month", "year")  # interior, never extremes
    assert not rows["none"]["best"] and not rows["day"]["best"]
    # pruning monotone: finer grain never scans MORE rows
    assert (
        rows["day"]["rows_scanned"]
        <= rows["month"]["rows_scanned"]
        <= rows["year"]["rows_scanned"]
        <= rows["none"]["rows_scanned"]
    )


def test_q482_rows_scanned_monotone_in_file_count(spark):
    rows = sorted(
        queries()["q482_file_count_sweep"](spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r["n_files"],
    )
    scanned = [r["rows_scanned"] for r in rows]
    assert scanned == sorted(scanned, reverse=True)
    assert sum(1 for r in rows if r["best"]) >= 1


def test_q483_streaming_requests_equal_batch_audit(spark):
    got = sorted(
        map(
            tuple,
            queries()["q483_streaming_erasure"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            queries()["q479_erasure_compliance_audit"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    assert got == want


def test_q484_negatives_have_different_labels_and_rank_correctly(spark):
    rows = queries()["q484_hard_negative_mining"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["query_label"] != r["negative_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["cosine_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_q485_two_level_saves_metadata_and_loses_no_files(spark):
    rows = queries()["q485_two_level_metadata_pruning"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert len(rows) == 3
    for r in rows:
        # pruning soundness: surviving manifests cover every hit file
        assert r["files_checked_two_level"] >= r["files_hit"]
        # and reading manifests first is much cheaper than flat listing
        assert r["metadata_read_saving"] > 0.5
        assert r["manifests_hit"] <= r["manifests_checked"]


def test_q486_all_edges_hold_and_orphan_math_is_real(spark, tmp_path):
    rows = queries()["q486_referential_integrity_audit"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert len(rows) == 7
    assert all(r["integrity_holds"] for r in rows)
    assert all(r["orphan_rows"] == 0 for r in rows)
    # the detector is real: a planted orphan is counted
    child = spark.createDataFrame([(1,), (2,), (99,)], "k long")
    parent = spark.createDataFrame([(1,), (2,)], "p long")
    orphans = child.join(parent, child.k == parent.p, "left_anti").count()
    assert orphans == 1


def test_q487_plants_both_outcomes(spark):
    rows = {
        (r["determinant"], r["dependent"]): r
        for r in queries()["q487_functional_dependency_discovery"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert rows[("o_orderkey", "o_custkey")]["fd_holds"]
    assert rows[("o_orderkey", "o_orderpriority")]["fd_holds"]
    assert not rows[("o_custkey", "o_orderpriority")]["fd_holds"]
    assert not rows[("o_orderpriority", "o_orderstatus")]["fd_holds"]
    # violating_groups never exceeds group count
    for r in rows.values():
        assert 0 <= r["violating_groups"] <= r["n_groups"]


def test_q488_advisor_agrees_with_verification_and_fails_on_orphans(spark):
    row = queries()["q488_join_elimination_advisor"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert row["eliminable"] and row["rewrite_verified"]
    assert row["rows_with_join"] == row["rows_without_join"]
    # counterfactual: an orphaned child breaks BOTH the preconditions
    # and the verification, in the same direction
    o = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], "ok long, ck long")
    c = spark.createDataFrame([(10,), (20,)], "k long")
    fk_ok = o.join(c, o.ck == c.k, "left_anti").count() == 0
    with_j = o.join(c, o.ck == c.k).count()
    assert not fk_ok
    assert with_j != o.count()


def test_q489_datasheet_columns_pinned_to_components(spark):
    row = queries()["q489_optimizer_datasheet"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert row["chosen_join_order"] == "co_l"
    assert row["join_order_verified"]
    assert row["mv_first_pick"] == "pm"
    s2 = {
        r["view_name"]
        for r in queries()["q468_mv_lattice_selection"](
            spark, SMOKE_SF_DIR
        ).collect()
        if r["step"] == 2 and r["chosen"]
    }
    assert row["mv_second_pick"] in s2
    assert row["dim_edge_strategy"] == "broadcast"
    assert row["fact_edge_strategy"] == "shuffle_hash"
    assert row["join_eliminable"] and row["elimination_verified"]


def test_q490_retraction_really_scattered_and_view_exact(spark):
    from databricks_etl_spark.sources.readers import read_table

    got = {
        r["mth"]: (r["revenue"], r["n_lines"])
        for r in queries()["q490_ivm_retraction_delta"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    li = read_table(spark, SMOKE_SF_DIR, "lineitem")
    # deletes non-empty and strictly smaller than the table
    n_del = li.filter(F.col("l_linenumber") == 6).count()
    assert 0 < n_del < li.count()
    # maintained view ≡ recompute over survivors (count side)
    orders = read_table(spark, SMOKE_SF_DIR, "orders")
    from databricks_etl_spark.plans.queries_round12 import _Q468_MONTH
    want = {
        r["mth"]: r["n"]
        for r in orders.join(
            li.filter(F.col("l_linenumber") != 6),
            orders.o_orderkey == li.l_orderkey,
        )
        .groupBy(F.expr(_Q468_MONTH).alias("mth"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {m: c for m, (rv, c) in got.items()} == want


# ---------------------------------------------------------------------------
# fixity / robustness family
# ---------------------------------------------------------------------------


def test_q491_quarantine_conserves_rows_and_catches_the_planted_lines(spark):
    from databricks_etl_spark.sources.readers import read_table

    row = queries()["q491_corrupt_record_quarantine"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    orders = read_table(spark, SMOKE_SF_DIR, "orders")
    want_bad = orders.filter(F.col("o_orderkey") % 100 == 13).count()
    assert row["quarantined_rows"] == want_bad > 0
    assert row["parsed_rows"] + row["quarantined_rows"] == row["total_rows"]
    assert row["quarantine_complete"]


def test_q492_fingerprint_is_order_and_partitioning_independent(spark):
    from databricks_etl_spark.plans.queries_round12 import (
        _q492_hash_col,
        _q492_row_col,
    )
    from databricks_etl_spark.sources.readers import read_table

    orders = read_table(spark, SMOKE_SF_DIR, "orders")
    base = queries()["q492_table_fingerprint"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    # recompute under a hostile repartitioning + reversed sort
    shuffled = orders.repartition(13).sortWithinPartitions(
        F.desc("o_orderkey")
    )
    alt = shuffled.agg(
        F.sum(_q492_hash_col(_q492_row_col()).cast("decimal(38,0)"))
        .cast("string")
        .alias("fp")
    ).collect()[0]["fp"]
    assert alt == base["content_fingerprint"]
    # a single flipped row moves the fingerprint
    one_off = orders.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") == 7, F.lit("X")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    moved = one_off.agg(
        F.sum(_q492_hash_col(_q492_row_col()).cast("decimal(38,0)"))
        .cast("string")
        .alias("fp")
    ).collect()[0]["fp"]
    assert moved != base["content_fingerprint"]


def test_q493_localization_is_exact(spark):
    row = queries()["q493_anti_entropy_localization"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert row["localization_exact"]
    assert 0 < row["buckets_differing"] <= row["buckets_compared"]
    assert row["mutated_rows"] >= row["buckets_with_mutations"]


def test_q494_streamed_fingerprint_equals_batch(spark):
    got = queries()["q494_streaming_fingerprint"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    want = queries()["q492_table_fingerprint"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert got["content_fingerprint"] == want["content_fingerprint"]
    assert got["n_rows"] == want["n_rows"]


def test_q495_all_three_triggers_fire_with_evidence(spark):
    row = queries()["q495_maintenance_scheduler"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert row["compact_now"] and row["small_file_share"] > 0.5
    assert row["recluster_now"] and row["worst_layout_depth"] > 3.0
    assert row["vacuum_now"] and row["reclaimable_files"] >= 1


def test_q496_contract_passes_and_detector_is_real(spark):
    rows = queries()["q496_data_contract_card"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert len(rows) == 6
    assert all(r["passed"] and r["failures"] == 0 for r in rows)
    # the accepted-values detector really fires on out-of-domain rows
    bad = spark.createDataFrame(
        [("1-URGENT",), ("9-BOGUS",)], "o_orderpriority string"
    )
    from databricks_etl_spark.plans.queries_round12 import _Q496_PRIORITIES
    n = bad.filter(~F.col("o_orderpriority").isin(_Q496_PRIORITIES)).count()
    assert n == 1


def test_q497_frontiers_disjoint_and_nonempty(spark):
    from databricks_etl_spark.sources.readers import read_table
    from databricks_etl_spark.plans.queries_round12 import _Q497_SEED

    rows = {
        r["hop"]: r
        for r in queries()["q497_bipartite_bfs"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert rows[1]["n_reached"] > 0
    assert rows[2]["n_reached"] > 0
    # hop-3 parts exclude hop-1 parts by construction: recompute the
    # union and check totals against the raw edge relation
    li = read_table(spark, SMOKE_SF_DIR, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    p1 = e.filter(F.col("s") == _Q497_SEED).select("p").distinct()
    s2 = e.join(p1, "p").filter(F.col("s") != _Q497_SEED).select(
        "s"
    ).distinct()
    p_all = e.join(s2, "s").select("p").distinct()
    assert rows[3]["n_reached"] == p_all.join(p1, "p", "left_anti").count()


def test_q498_attribution_is_temporal_not_total(spark):
    """Every attributed click's version must be the one valid at the
    click time — re-verified per row on a sample; clicks before a
    user's first purchase attribute to nothing."""
    from databricks_etl_spark.sources.readers import read_table

    rows = queries()["q498_scd2_point_in_time_join"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert rows
    e = read_table(spark, SMOKE_SF_DIR, "events")
    clicks = e.filter(F.col("event_type") == "click").count()
    attributed = sum(r["n_clicks_attributed"] for r in rows)
    # inner-join semantics: attributed <= clicks, strictly fewer when
    # some clicks precede the user's first purchase
    assert 0 < attributed <= clicks
    # no user touches more versions than they have purchases
    purchases = {
        r["user_id"]: r["n"]
        for r in e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_versions_touched"] <= purchases[r["user_id"]]


def test_q499_folds_balanced_within_one_per_stratum(spark):
    rows = queries()["q499_stratified_kfold"](spark, SMOKE_SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["fold"]] = r["n_docs"]
    assert by_lang
    for lang, folds in by_lang.items():
        sizes = list(folds.values())
        assert max(sizes) - min(sizes) <= 1, (lang, folds)
        assert set(folds) <= set(range(1, 6))


def test_q500_ci_brackets_the_point_and_is_nondegenerate(spark):
    row = queries()["q500_bootstrap_ci"](spark, SMOKE_SF_DIR).collect()[0]
    assert row["ci_covers_point"]
    assert row["boot_lo"] < row["boot_hi"]
    # the interval is sampling noise, not a degenerate spike: at this
    # corpus size the half-width is well under 5% of the mean
    half = (row["boot_hi"] - row["boot_lo"]) / 2
    assert 0 < half < 0.05 * row["point_mean"]


def test_q501_retractions_fire_and_slicing_replay_hold(spark, tmp_path):
    """Late versions must produce real retractions (−1 deltas), any
    slicing must drain to the batch answer, and replaying an epoch
    must reproduce its own delta exactly."""
    import shutil

    from databricks_etl_spark.plans.queries_round12 import (
        _Q501_DELTA_SCHEMA,
        _drain_q501,
        _make_q501_epoch,
        _q501_clicks,
    )
    from databricks_etl_spark.sources.readers import read_table

    e = read_table(spark, SMOKE_SF_DIR, "events")
    clicks = _q501_clicks(spark, SMOKE_SF_DIR).localCheckpoint()
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    ).localCheckpoint()

    def run(path, slices):
        shutil.rmtree(path, ignore_errors=True)
        spark.createDataFrame(
            [],
            "user_id long, ts timestamp_ntz, value double,"
            " event_id long, __epoch int",
        ).write.partitionBy("__epoch").parquet(f"{path}/purchases")
        spark.createDataFrame([], _Q501_DELTA_SCHEMA).write.partitionBy(
            "__epoch"
        ).parquet(f"{path}/attrib")
        ingest = _make_q501_epoch(spark, path, clicks)
        for ep, pred in enumerate(slices):
            ingest(purchases.filter(pred), ep)
        return ingest, sorted(
            map(tuple, _drain_q501(spark, path).collect())
        )

    two = str(tmp_path / "two")
    ingest2, res2 = run(
        two,
        [F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1],
    )
    _, res4 = run(
        str(tmp_path / "four"),
        [F.col("event_id") % 4 == i for i in range(4)],
    )
    assert res2 == res4
    batch = sorted(
        map(
            tuple,
            queries()["q498_scd2_point_in_time_join"](
                spark, SMOKE_SF_DIR
            ).collect(),
        )
    )
    assert res2 == batch
    # retractions really fired
    deltas = spark.read.schema(_Q501_DELTA_SCHEMA).parquet(
        f"{two}/attrib"
    )
    assert deltas.filter(F.col("mult") == -1).count() > 0
    # replay the late epoch: drain unchanged
    ingest2(purchases.filter(F.col("event_id") % 2 == 1), 1)
    assert sorted(map(tuple, _drain_q501(spark, two).collect())) == res2


def test_q502_equal_size_sources_get_identical_distributions(spark):
    rows = queries()["q502_quantile_normalization"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert len(rows) == 20  # one per source
    sizes = {r["n_docs"] for r in rows}
    sums = {r["sum_norm_chars"] for r in rows}
    mins = {r["min_norm_chars"] for r in rows}
    maxs = {r["max_norm_chars"] for r in rows}
    # synthetic sources are equal-sized → normalization maps every
    # source onto the SAME global order statistics
    assert len(sizes) == 1
    assert len(sums) == 1 and len(mins) == 1 and len(maxs) == 1


def test_q503_arrival_ordered_appends_force_a_global_rewrite(spark):
    """The lane's lesson: unclustered appends overlap (nearly) every
    base file's day zone, so the 'incremental' rewrite degenerates —
    the quantified argument for clustering at ingest."""
    row = queries()["q503_incremental_recluster_plan"](
        spark, SMOKE_SF_DIR
    ).collect()[0]
    assert row["base_files_overlapping"] == row["n_base_files"]
    assert not row["rewrite_is_local"]
    assert row["rewrite_share"] == 1.0


def test_q504_pair_math_and_bounded_expansion(spark):
    from databricks_etl_spark.sources.readers import read_table

    rows = queries()["q504_market_basket_pairs"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert rows
    li = read_table(spark, SMOKE_SF_DIR, "lineitem")
    n_orders = li.select("l_orderkey").distinct().count()
    for r in rows:
        assert r["pk_a"] < r["pk_b"]
        assert r["pair_orders"] >= 2
        assert 0 < r["support"] <= 1
        assert 0 < r["confidence_a_to_b"] <= 1
        assert r["lift"] > 0
        # support consistency: pair_orders/n == support (rounded)
        assert abs(r["support"] - round(r["pair_orders"] / n_orders, 6)) < 1e-9


def test_q505_credit_never_exceeds_purchase_value_and_splits_evenly(spark):
    from databricks_etl_spark.sources.readers import read_table

    rows = queries()["q505_multi_touch_attribution"](
        spark, SMOKE_SF_DIR
    ).collect()
    assert rows
    e = read_table(spark, SMOKE_SF_DIR, "events")
    total_purchase_value = e.filter(
        F.col("event_type") == "purchase"
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double")).collect()[0][0]
    credited = sum(r["credited_value"] for r in rows)
    # inner-join semantics: credited <= total purchase value (purchases
    # with no in-window clicks attribute nothing); rounding loses at
    # most 1e-6 per touch row
    touches = sum(r["touch_rows"] for r in rows)
    assert credited <= total_purchase_value + 1e-6 * touches
    assert all(r["touch_rows"] >= r["attributed_purchases"] for r in rows)
