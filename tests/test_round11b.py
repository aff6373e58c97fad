"""Round-11b lane tests: the optimizer-stats family (stats → estimate
→ audit → decision loop) and, as they land, the privacy-audit family.
Parity itself runs in test_oracle_parity.py; these pin the semantic
claims each docstring makes and the planted-violation flips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import PARITY_SF_DIR, SMOKE_SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# q433 — stats collection
# ---------------------------------------------------------------------------


def test_q433_stats_match_direct_measurement(spark):
    """The published stats must equal what a direct pass measures."""
    from databricks_etl_spark.plans.queries_round11b import (
        q433_table_stats_collection,
    )
    from databricks_etl_spark.sources.readers import read_table

    rows = {
        (r["table_name"], r["column_name"]): r
        for r in q433_table_stats_collection(spark, SMOKE_SF_DIR).collect()
    }
    li = read_table(spark, SMOKE_SF_DIR, "lineitem")
    n = li.count()
    ndv = li.select(F.countDistinct("l_partkey")).collect()[0][0]
    r = rows[("lineitem", "l_partkey")]
    assert r["n_rows"] == n
    assert r["n_distinct"] == ndv
    assert r["n_null"] == 0
    assert r["min_val"] <= r["max_val"]


# ---------------------------------------------------------------------------
# q434 — selectivity estimation audit
# ---------------------------------------------------------------------------


def test_q434_estimates_bounded_and_qerror_well_formed(spark):
    """q_error is >= 1 by construction; on this near-uniform column a
    10-bucket equi-depth histogram estimates every band within 5%; the
    estimate never exceeds the table row count."""
    from databricks_etl_spark.plans.queries_round11b import (
        q434_selectivity_estimation_audit,
    )
    from databricks_etl_spark.sources.readers import read_table

    rows = q434_selectivity_estimation_audit(spark, PARITY_SF_DIR).collect()
    n = read_table(spark, PARITY_SF_DIR, "lineitem").count()
    assert len(rows) == 5
    for r in rows:
        assert r["q_error"] >= 1.0
        assert r["q_error"] < 1.05, (r["pred_id"], r["q_error"])
        assert 0 <= r["est_rows"] <= n


def test_q434_full_range_predicate_is_exact(spark):
    """A predicate covering the whole histogram range must estimate
    exactly the total row count (every bucket fraction clamps to 1) —
    pins the clamping arithmetic on both ends."""
    from databricks_etl_spark.plans.queries_round11b import _Q434_PREDS

    # the union of predicates 1-4 spans [0, 200000] ⊇ data range; the
    # per-bucket fractions for predicate 4's open tail must clamp at 1
    # inside the top bucket and at 0 below its lo — covered implicitly
    # by parity; here assert the clamp bounds via the planted preds
    assert _Q434_PREDS[3][2] > 105000  # hi beyond data max (clamps)
    assert _Q434_PREDS[0][1] < 900  # lo below data min (clamps)


# ---------------------------------------------------------------------------
# q435 — join cardinality q-error
# ---------------------------------------------------------------------------


def test_q435_fk_edge_actual_equals_fact_count(spark):
    """On a clean FK edge every fact row joins exactly once, so the
    true join size equals the fact-side row count — and the per-key
    product-sum formulation must reproduce it without materializing
    the join."""
    from databricks_etl_spark.plans.queries_round11b import (
        q435_join_cardinality_qerror,
    )

    rows = {
        r["edge"]: r
        for r in q435_join_cardinality_qerror(spark, SMOKE_SF_DIR).collect()
    }
    ol = rows["orders-lineitem"]
    assert ol["actual_rows"] == ol["n_right"]
    for r in rows.values():
        assert r["q_error"] >= 1.0


# ---------------------------------------------------------------------------
# q436 — broadcast decision vs Spark's real planner
# ---------------------------------------------------------------------------


def test_q436_decision_monotone_in_threshold(spark):
    """broadcast at threshold t implies broadcast at every t' > t."""
    from databricks_etl_spark.plans.queries_round11b import (
        q436_broadcast_plan_decision,
    )

    rows = q436_broadcast_plan_decision(spark, SMOKE_SF_DIR).collect()
    by_edge: dict[str, list] = {}
    for r in rows:
        by_edge.setdefault(r["edge"], []).append(r)
    for edge_rows in by_edge.values():
        edge_rows.sort(key=lambda r: r["threshold_bytes"])
        seen_broadcast = False
        for r in edge_rows:
            if seen_broadcast:
                assert r["strategy"] == "broadcast"
            seen_broadcast = seen_broadcast or r["strategy"] == "broadcast"
        # build side never changes with the threshold
        assert len({r["build_side"] for r in edge_rows}) == 1


def test_q436_decision_agrees_with_real_planner(spark):
    """The width-model decision must agree with what Spark's planner
    actually does from parquet size stats: supplier⋈lineitem broadcasts
    under the default 10 MiB threshold; orders⋈lineitem does NOT
    broadcast under a 64 KiB threshold (orders.parquet > 64 KiB)."""
    from databricks_etl_spark.plans.queries_round11b import (
        q436_broadcast_plan_decision,
    )
    from databricks_etl_spark.sources.readers import read_table

    dec = {
        (r["edge"], r["threshold_bytes"]): r
        for r in q436_broadcast_plan_decision(spark, PARITY_SF_DIR).collect()
    }
    r = dec[("supplier-lineitem", 10485760)]
    assert r["strategy"] == "broadcast" and r["build_side"] == "supplier"
    assert dec[("orders-lineitem", 65536)]["strategy"] == "shuffle"

    li = read_table(spark, PARITY_SF_DIR, "lineitem")
    su = read_table(spark, PARITY_SF_DIR, "supplier")
    od = read_table(spark, PARITY_SF_DIR, "orders")
    joined = li.join(su, li.l_suppkey == su.s_suppkey)
    assert "BroadcastHashJoin" in _plan(joined)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
        j2 = li.join(od, li.l_orderkey == od.o_orderkey)
        assert "BroadcastHashJoin" not in _plan(j2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ---------------------------------------------------------------------------
# q437 — stats staleness audit (planted-violation flips)
# ---------------------------------------------------------------------------


def test_q437_tolerance_flips_the_flag(spark):
    """tol below zero plants a violation everywhere (any growth trips);
    tol huge clears every growth trip so only range expansion — which
    is threshold-free by design — can hold the flag up."""
    from databricks_etl_spark.plans.queries_round11b import _q437_stats_drift

    tripped = _q437_stats_drift(spark, SMOKE_SF_DIR, tol=-1.0).collect()
    assert all(r["stale"] for r in tripped)
    cleared = _q437_stats_drift(spark, SMOKE_SF_DIR, tol=1e9).collect()
    for r in cleared:
        assert r["stale"] == r["range_expanded"]


def test_q437_registered_oracle_is_the_default_kernel():
    """The registered oracle must be the kernel at its defaults — a
    signature-default drift would silently fork the two."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q437_GROWTH_TOL,
        _Q437_MOD,
        _q437_sql,
    )
    from databricks_etl_spark.plans.registry import QUERIES

    assert (
        _q437_sql(mod=_Q437_MOD, tol=_Q437_GROWTH_TOL)
        == QUERIES["q437_stats_staleness_audit"].oracle
    )


def test_q437_growth_matches_split_construction(spark):
    """The ~10% late batch (key % 10 == 9) must show up as ~1/9 row
    growth on every audited table — pins the split arithmetic."""
    from databricks_etl_spark.plans.queries_round11b import _q437_stats_drift

    for r in _q437_stats_drift(spark, PARITY_SF_DIR).collect():
        assert 0.08 < r["row_growth"] < 0.14
        assert r["n_rows_old"] < r["n_rows_new"]


# ---------------------------------------------------------------------------
# q438/q439 — k-anonymity audit and generalization ladder
# ---------------------------------------------------------------------------


def test_q438_risk_monotone_in_k(spark):
    """rows_below_k can only grow with k; group/row totals are
    k-independent facts of the release."""
    from databricks_etl_spark.plans.queries_round11b import (
        q438_k_anonymity_audit,
    )

    rows = sorted(
        q438_k_anonymity_audit(spark, PARITY_SF_DIR).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [2, 5, 10, 20]
    assert len({(r["n_rows"], r["n_groups"], r["min_group_size"])
                for r in rows}) == 1
    below = [r["rows_below_k"] for r in rows]
    assert below == sorted(below)


def test_q439_ladder_monotone_by_refinement(spark):
    """The widths form a refinement chain, so generalizing can only
    merge groups: n_groups non-increasing, rows_below_5 non-increasing,
    min group size non-decreasing down the ladder."""
    from databricks_etl_spark.plans.queries_round11b import (
        q439_generalization_ladder,
    )

    rows = sorted(
        q439_generalization_ladder(spark, PARITY_SF_DIR).collect(),
        key=lambda r: r["level"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_groups"] <= a["n_groups"]
        assert b["rows_below_5"] <= a["rows_below_5"]
        assert b["min_group_size"] >= a["min_group_size"]
        assert b["anonymous_k5"] == (b["rows_below_5"] == 0)


# ---------------------------------------------------------------------------
# q440 — l-diversity
# ---------------------------------------------------------------------------


def test_q440_flags_consistent_and_release_level_diverse(spark):
    from databricks_etl_spark.plans.queries_round11b import (
        q440_l_diversity_audit,
    )

    rows = {r["level"]: r
            for r in q440_l_diversity_audit(spark, PARITY_SF_DIR).collect()}
    for r in rows.values():
        assert r["diverse_l2"] == (r["min_l"] >= 2)
        assert (r["homogeneous_groups"] == 0) == (r["rows_in_low_l"] == 0)
    # the gate's QI (segment alone) is diverse at both test scales
    assert rows[2]["diverse_l2"]


# ---------------------------------------------------------------------------
# q441 — privacy gate: scale split, planted violations, fail-closed empty
# ---------------------------------------------------------------------------


def test_q441_pass_at_parity_hold_at_smoke(spark):
    """Same thresholds, different corpus sizes: the release level is
    5-anonymous at sf0.01 (PASS) but not at sf0.001 (HOLD) — the gate
    follows the data, like q430."""
    from databricks_etl_spark.plans.queries_round11b import (
        q441_privacy_release_gate,
    )

    r = q441_privacy_release_gate(spark, PARITY_SF_DIR).collect()[0]
    assert r["verdict"] == "PASS"
    assert r["check_k_anonymity"] and r["check_l_diversity"]
    assert r["check_no_pii"] and r["docs_with_email"] == 0
    s = q441_privacy_release_gate(spark, SMOKE_SF_DIR).collect()[0]
    assert s["verdict"] == "HOLD"
    assert s["check_k_anonymity"] is False  # the violated check, named


def test_q441_planted_violations_flip_the_verdict(spark):
    from databricks_etl_spark.plans.queries_round11b import _q441_gate
    from databricks_etl_spark.sources.readers import read_table

    cust = read_table(spark, PARITY_SF_DIR, "customer")
    docs = read_table(spark, PARITY_SF_DIR, "documents").select("text")
    assert _q441_gate(spark, cust, docs).collect()[0]["verdict"] == "PASS"
    r = _q441_gate(spark, cust, docs, share_tol=-0.1).collect()[0]
    assert r["verdict"] == "HOLD" and r["check_k_anonymity"] is False
    r = _q441_gate(spark, cust, docs, min_l=99).collect()[0]
    assert r["verdict"] == "HOLD" and r["check_l_diversity"] is False


def test_q441_empty_inputs_hold_fail_closed(spark):
    """An audit that never saw data must HOLD with NULL checks, never
    PASS — missing evidence is not evidence."""
    from databricks_etl_spark.plans.queries_round11b import _q441_gate

    cust = spark.createDataFrame(
        [], "c_nationkey int, c_mktsegment string, c_acctbal double"
    )
    docs = spark.createDataFrame([], "text string")
    r = _q441_gate(spark, cust, docs).collect()[0]
    assert r["verdict"] == "HOLD"
    assert r["check_k_anonymity"] is None
    assert r["check_no_pii"] is None
    assert r["n_customers"] == 0


def test_q441_registered_oracle_is_the_default_kernel():
    from databricks_etl_spark.plans.queries_round11b import (
        _Q441_MIN_L,
        _Q441_SHARE_TOL,
        _q441_oracle,
    )
    from databricks_etl_spark.plans.registry import QUERIES

    assert (
        _q441_oracle(share_tol=_Q441_SHARE_TOL, min_l=_Q441_MIN_L)
        == QUERIES["q441_privacy_release_gate"].oracle
    )


# ---------------------------------------------------------------------------
# q442 — boolean retrieval
# ---------------------------------------------------------------------------


def test_q442_conjunction_matches_direct_recount(spark):
    """n_hits for a 2-term conjunction must equal an independent
    formulation (array_contains over the split token array), and the
    out-of-vocabulary query must hit nothing via the -1 sentinel."""
    from databricks_etl_spark.plans.queries_round11b import (
        q442_boolean_retrieval,
    )
    from databricks_etl_spark.sources.readers import read_table

    rows = {r["query_id"]: r
            for r in q442_boolean_retrieval(spark, SMOKE_SF_DIR).collect()}
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    arr = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    direct = docs.filter(
        F.array_contains(arr, "spark") & F.array_contains(arr, "join")
    ).count()
    assert rows[1]["n_hits"] == direct
    assert rows[5]["n_hits"] == 0 and rows[5]["first_doc"] == -1
    assert rows[5]["hit_share"] == 0.0
    # more terms can only shrink the hit set vs any same-terms prefix
    assert all(r["n_hits"] >= 0 for r in rows.values())


# ---------------------------------------------------------------------------
# q443/q444 — time travel and vacuum
# ---------------------------------------------------------------------------


def test_q443_compaction_preserves_rows_retention_does_not(spark):
    """The planted history's invariants: after the backfill (v2) the
    table is complete; v3's compaction keeps live_rows identical while
    dropping the file count; v4's retention delete loses rows."""
    from databricks_etl_spark.plans.queries_round11b import (
        q443_time_travel_reads,
    )

    rows = {r["version_at"]: r
            for r in q443_time_travel_reads(spark, SMOKE_SF_DIR).collect()}
    assert rows[2]["rows_delta_vs_current"] == 0
    assert rows[3]["rows_delta_vs_current"] == 0
    assert rows[3]["n_live_files"] == rows[2]["n_live_files"] - 1
    assert rows[4]["rows_delta_vs_current"] < 0
    assert rows[1]["live_rows"] < rows[2]["live_rows"]


def test_q444_vacuum_accounting_and_never_touches_live(spark):
    """reclaimable + retained must account for every tombstone at each
    retention setting, reclaimable only shrinks as retention grows,
    and no reclaimable file is live at head."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q444_HEAD,
        _version_log,
        q444_vacuum_retention_audit,
    )

    rows = sorted(
        q444_vacuum_retention_audit(spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r["retention_versions"],
    )
    log = _version_log(spark, SMOKE_SF_DIR).collect()
    n_rem = sum(1 for a in log if a["action"] == "remove")
    for r in rows:
        assert r["reclaimable_files"] + r["retained_tombstones"] == n_rem
    rec = [r["reclaimable_files"] for r in rows]
    assert rec == sorted(rec, reverse=True)
    # live-at-head ∩ removed-by-head = ∅ (vacuum plans over tombstones)
    added = {a["file_id"] for a in log
             if a["action"] == "add" and a["version"] <= _Q444_HEAD}
    removed = {a["file_id"] for a in log
               if a["action"] == "remove" and a["version"] <= _Q444_HEAD}
    live = added - removed
    assert not (live & removed)


# ---------------------------------------------------------------------------
# q445 — conjunctive selectivity (the correlation trap)
# ---------------------------------------------------------------------------


def test_q445_correlation_trap_dwarfs_independent_pairs(spark):
    """The same-column pair's q_error must dominate both cross-column
    pairs (independence fails exactly where the flag says it does);
    the always-true predicate estimates selectivity 1."""
    from databricks_etl_spark.plans.queries_round11b import (
        q445_conjunction_selectivity_audit,
    )

    rows = {r["pair_id"]: r
            for r in q445_conjunction_selectivity_audit(
                spark, PARITY_SF_DIR).collect()}
    assert rows[2]["same_column"] and not rows[1]["same_column"]
    assert rows[2]["q_error"] > 2 * rows[1]["q_error"]
    assert rows[2]["q_error"] > 2 * rows[3]["q_error"]
    assert rows[3]["est_sel_b"] == 1.0  # quantity in [1, 50] is all rows
    # independence UNDERSHOOTS on positive correlation
    assert rows[2]["est_rows"] < rows[2]["actual_rows"]


# ---------------------------------------------------------------------------
# q446 — commit conflicts
# ---------------------------------------------------------------------------


def test_q446_only_the_planted_overlap_conflicts(spark):
    """Exactly one write-write conflict (the two compactions sharing
    the rank-2 file); the later transaction loses; the append's fresh
    file id serializes against everyone."""
    from databricks_etl_spark.plans.queries_round11b import (
        q446_commit_conflict_audit,
    )

    rows = {(r["txn_a"], r["txn_b"]): r
            for r in q446_commit_conflict_audit(
                spark, SMOKE_SF_DIR).collect()}
    assert len(rows) == 6
    c = rows[(1, 2)]
    assert c["conflict"] and c["shared_writes"] == 1 and c["aborted_txn"] == 2
    for pair, r in rows.items():
        if pair != (1, 2):
            assert not r["conflict"] and r["aborted_txn"] == -1
        if 3 in pair:
            assert r["shared_writes"] == 0


# ---------------------------------------------------------------------------
# q447 — streaming table stats: slicing invariance + exactly-once replay
# ---------------------------------------------------------------------------


def test_q447_slicing_invariance_and_replay(spark, tmp_path):
    """The drained table stats equal the direct batch measurement
    under a FORCED two-epoch slicing of the stream, and re-delivering
    an epoch leaves the drain unchanged (exactly-once partials)."""
    from databricks_etl_spark.sources.readers import read_table
    from databricks_etl_spark.streaming.tablestats import (
        _PARTIAL_SCHEMA,
        drain_table_stats,
        make_stats_epoch,
    )

    e = read_table(spark, SMOKE_SF_DIR, "events")
    path = str(tmp_path / "tablestats_partials")
    spark.createDataFrame([], _PARTIAL_SCHEMA).write.mode(
        "overwrite"
    ).partitionBy("__epoch").parquet(path)

    ingest = make_stats_epoch(path)
    ingest(e.filter(F.col("event_id") % 2 == 0), 0)
    ingest(e.filter(F.col("event_id") % 2 == 1), 1)

    def drained():
        return sorted(map(tuple, drain_table_stats(spark, path).collect()))

    first = drained()
    batch = sorted(
        map(
            tuple,
            e.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min(F.col("event_id").cast("double")).alias("mn"),
                F.max(F.col("event_id").cast("double")).alias("mx"),
            ).collect(),
        )
    )
    by_col = {r[0]: r for r in first}
    assert by_col["event_id"][1] == batch[0][0]  # n_rows
    assert by_col["event_id"][3] == batch[0][1]  # min
    assert by_col["event_id"][4] == batch[0][2]  # max
    assert by_col["event_id"][2] == 0  # n_null
    ingest(e.filter(F.col("event_id") % 2 == 1), 1)  # replay epoch 1
    assert drained() == first


# ---------------------------------------------------------------------------
# q448 — table health datasheet consistency
# ---------------------------------------------------------------------------


def test_q448_card_pins_to_components(spark):
    """Every datasheet number must equal the component lane it lifts
    from — the card may summarize, never re-derive differently."""
    from databricks_etl_spark.plans.queries_round11b import (
        _q437_stats_drift,
        q433_table_stats_collection,
        q434_selectivity_estimation_audit,
        q435_join_cardinality_qerror,
        q436_broadcast_plan_decision,
        q443_time_travel_reads,
        q444_vacuum_retention_audit,
        q445_conjunction_selectivity_audit,
        q446_commit_conflict_audit,
        q448_table_health_datasheet,
    )

    card = q448_table_health_datasheet(spark, SMOKE_SF_DIR).collect()[0]
    st = q433_table_stats_collection(spark, SMOKE_SF_DIR).collect()
    assert card["n_profiled_columns"] == len(st)
    assert card["n_tables"] == len({r["table_name"] for r in st})
    sa = _q437_stats_drift(spark, SMOKE_SF_DIR).collect()
    assert card["stale_columns"] == sum(1 for r in sa if r["stale"])
    se = q434_selectivity_estimation_audit(spark, SMOKE_SF_DIR).collect()
    assert card["worst_selectivity_qerror"] == max(r["q_error"] for r in se)
    jq = q435_join_cardinality_qerror(spark, SMOKE_SF_DIR).collect()
    assert card["worst_join_qerror"] == max(r["q_error"] for r in jq)
    bd = q436_broadcast_plan_decision(spark, SMOKE_SF_DIR).collect()
    assert card["broadcastable_edges_default"] == sum(
        1 for r in bd
        if r["threshold_bytes"] == 10485760 and r["strategy"] == "broadcast"
    )
    cp = q445_conjunction_selectivity_audit(spark, SMOKE_SF_DIR).collect()
    assert card["correlated_pairs_flagged"] == sum(
        1 for r in cp if r["same_column"] and r["q_error"] > 1.5
    )
    tt = {r["version_at"]: r
          for r in q443_time_travel_reads(spark, SMOKE_SF_DIR).collect()}
    assert card["live_files_at_head"] == tt[4]["n_live_files"]
    vc = {r["retention_versions"]: r
          for r in q444_vacuum_retention_audit(spark, SMOKE_SF_DIR).collect()}
    assert card["reclaimable_files_r1"] == vc[1]["reclaimable_files"]
    cc = q446_commit_conflict_audit(spark, SMOKE_SF_DIR).collect()
    assert card["commit_conflicts"] == sum(1 for r in cc if r["conflict"])


def test_version_log_oracles_default_prefix_is_registered():
    """The registered q443/q444/q446 oracles must be their kernel
    builders at the default (empty) prefix — prefixing exists only for
    q448's hoisted-CTE embeds and must not fork semantics."""
    from databricks_etl_spark.plans.queries_round11b import (
        _q443_oracle,
        _q444_oracle,
        _q446_oracle,
    )
    from databricks_etl_spark.plans.registry import QUERIES

    assert _q443_oracle("") == QUERIES["q443_time_travel_reads"].oracle
    assert _q444_oracle("") == QUERIES["q444_vacuum_retention_audit"].oracle
    assert _q446_oracle("") == QUERIES["q446_commit_conflict_audit"].oracle


# ---------------------------------------------------------------------------
# q449 — t-closeness
# ---------------------------------------------------------------------------


def test_q449_tvd_bounded_and_merging_contracts(spark):
    """TVD lives in [0,1]; merging cohorts (levels 1 and 2 are unions
    of level-0 groups) can only move mixtures TOWARD the global
    distribution, so their max TVD is bounded by level 0's."""
    from databricks_etl_spark.plans.queries_round11b import (
        q449_t_closeness_audit,
    )

    rows = {r["level"]: r
            for r in q449_t_closeness_audit(spark, PARITY_SF_DIR).collect()}
    for r in rows.values():
        assert 0.0 <= r["max_tvd"] <= 1.0
        assert 0.0 <= r["share_groups_above_t"] <= 1.0
    assert rows[1]["max_tvd"] <= rows[0]["max_tvd"]
    assert rows[2]["max_tvd"] <= rows[0]["max_tvd"]


# ---------------------------------------------------------------------------
# q450 — restore plan invariant
# ---------------------------------------------------------------------------


def test_q450_applying_the_plan_reproduces_the_snapshot(spark):
    """(head live − removes) ∪ re-adds must equal live(v) EXACTLY for
    every target version — the restore plan is sufficient and minimal
    (counts match the symmetric difference)."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q444_HEAD,
        _live_sets,
        q450_restore_plan,
    )

    live = _live_sets(spark, SMOKE_SF_DIR).collect()
    by_v = {}
    for r in live:
        by_v.setdefault(r["version_at"], set()).add(r["file_id"])
    head = by_v[_Q444_HEAD]
    plans = {r["version_at"]: r
             for r in q450_restore_plan(spark, SMOKE_SF_DIR).collect()}
    for v, target in by_v.items():
        if v == _Q444_HEAD:
            continue
        p = plans[v]
        readds = target - head
        removes = head - target
        assert p["n_readds"] == len(readds)
        assert p["n_removes"] == len(removes)
        assert (head - removes) | readds == target
    # restored rows tie back to q443's live_rows
    from databricks_etl_spark.plans.queries_round11b import (
        q443_time_travel_reads,
    )

    tt = {r["version_at"]: r["live_rows"]
          for r in q443_time_travel_reads(spark, SMOKE_SF_DIR).collect()}
    for v, p in plans.items():
        assert p["restored_rows"] == tt[v]


# ---------------------------------------------------------------------------
# q451 — governance gate
# ---------------------------------------------------------------------------


def test_q451_go_at_parity_no_go_at_smoke(spark):
    """Same thresholds, different corpus sizes: privacy is the check
    that fires at the smoke scale; the planted commit conflict never
    blocks because it carries a designated loser (resolution
    completeness, not conflict absence, is the bar)."""
    from databricks_etl_spark.plans.queries_round11b import (
        q451_governance_gate,
    )

    g = q451_governance_gate(spark, PARITY_SF_DIR).collect()[0]
    assert g["verdict"] == "GO"
    assert g["open_conflicts"] == 1 and g["check_conflicts_resolved"]
    s = q451_governance_gate(spark, SMOKE_SF_DIR).collect()[0]
    assert s["verdict"] == "NO_GO"
    assert s["check_privacy"] is False  # the firing check, named
    assert s["check_conflicts_resolved"]


# ---------------------------------------------------------------------------
# q452 — DP-calibrated noise audit
# ---------------------------------------------------------------------------


def test_q452_utility_curve_monotone_in_epsilon(spark):
    """More privacy budget (larger eps) must mean less noise: the mean
    absolute error tracks the Laplace scale b = 1/eps down the sweep,
    and every tier's mean error sits within a factor of 3 of b (25
    draws around E|Laplace(b)| = b)."""
    from databricks_etl_spark.plans.queries_round11b import (
        q452_dp_noise_release_audit,
    )

    rows = sorted(
        q452_dp_noise_release_audit(spark, PARITY_SF_DIR).collect(),
        key=lambda r: r["eps"],
    )
    assert [r["n_cells"] for r in rows] == [25, 25, 25]
    means = [r["mean_abs_err"] for r in rows]
    assert means == sorted(means, reverse=True)
    for r in rows:
        assert r["b"] / 3 < r["mean_abs_err"] < 3 * r["b"]
        assert r["max_abs_err"] >= r["mean_abs_err"]


# ---------------------------------------------------------------------------
# plan-shape guards for the round-11b lanes
# ---------------------------------------------------------------------------


def test_round11b_plans_stay_jvm_side_and_broadcast(spark):
    """No round-11b lane may fall off the JVM fast path (no Python
    eval in any plan), every grid/total cross join must be a
    BroadcastNestedLoopJoin (never CartesianProduct), and the q442
    posting build's vocabulary cut must be a broadcast hash join."""
    from databricks_etl_spark.plans.queries_round11b import (
        q434_selectivity_estimation_audit,
        q438_k_anonymity_audit,
        q442_boolean_retrieval,
        q444_vacuum_retention_audit,
        q452_dp_noise_release_audit,
    )

    for fn in (
        q434_selectivity_estimation_audit,
        q438_k_anonymity_audit,
        q442_boolean_retrieval,
        q444_vacuum_retention_audit,
        q452_dp_noise_release_audit,
    ):
        plan = _plan(fn(spark, SMOKE_SF_DIR))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
    q442_plan = _plan(q442_boolean_retrieval(spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in q442_plan


# ---------------------------------------------------------------------------
# q453 — streaming CDC apply: slicing invariance + replay
# ---------------------------------------------------------------------------


def test_q453_slicing_invariance_and_replay(spark, tmp_path):
    """The drained live set must not depend on which epoch delivered
    which commit (two versions per batch vs one), and replaying a
    commit's epoch leaves the drain unchanged."""
    from databricks_etl_spark.plans.queries_round11b import (
        _drain_cdc_live,
        _version_log,
    )
    from databricks_etl_spark.streaming.sinks import (
        epoch_idempotent_sink as _make_cdc_epoch,
    )

    log = _version_log(spark, SMOKE_SF_DIR).localCheckpoint()
    schema = (
        "version int, action string, file_id long, rws long, __epoch int"
    )

    def run(path, slices):
        spark.createDataFrame([], schema).write.mode(
            "overwrite"
        ).partitionBy("__epoch").parquet(path)
        ingest = _make_cdc_epoch(path)
        for epoch, versions in enumerate(slices):
            ingest(log.filter(F.col("version").isin(versions)), epoch)
        return ingest, sorted(
            map(tuple, _drain_cdc_live(spark, path).collect())
        )

    _, fine = run(str(tmp_path / "a"), [[1], [2], [3], [4]])
    ingest_b, coarse = run(str(tmp_path / "b"), [[1, 2], [3, 4]])
    assert fine == coarse
    ingest_b(log.filter(F.col("version").isin([3, 4])), 1)  # replay
    assert sorted(
        map(tuple, _drain_cdc_live(spark, str(tmp_path / "b")).collect())
    ) == coarse


# ---------------------------------------------------------------------------
# q454/q455/q456 — storage-advisor trio
# ---------------------------------------------------------------------------


def test_q454_date_heavy_workload_picks_the_date_layout(spark):
    """With a date-dominated workload, sorting by ship day must win
    (and win uniquely); the zone math can never scan more than every
    file for every predicate."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q454_FILES,
        _Q454_WORKLOAD,
        q454_sort_key_selection,
    )

    rows = {r["layout"]: r
            for r in q454_sort_key_selection(spark, PARITY_SF_DIR).collect()}
    assert rows["l_shipday"]["best"]
    assert sum(1 for r in rows.values() if r["best"]) == 1
    for r in rows.values():
        assert r["files_scanned"] <= _Q454_FILES * len(_Q454_WORKLOAD)
        assert r["scan_share"] <= 1.0
    assert (rows["l_shipday"]["scan_share"]
            < rows["l_extendedprice"]["scan_share"])


def test_q455_recommendations_split_by_cardinality(spark):
    """Low-cardinality columns dictionary-encode, near-unique keys
    stay plain, and the byte model is exact integer arithmetic."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q455_WIDTH,
        q455_encoding_advisor,
    )

    rows = {(r["table_name"], r["column_name"]): r
            for r in q455_encoding_advisor(spark, PARITY_SF_DIR).collect()}
    assert rows[("lineitem", "l_suppkey")]["recommendation"] == "dictionary"
    assert rows[("customer", "c_nationkey")]["recommendation"] == "dictionary"
    assert rows[("orders", "o_orderkey")]["recommendation"] == "plain"
    r = rows[("lineitem", "l_quantity")]  # 50 values over the table
    bits = max(1, (r["n_distinct"] - 1).bit_length())
    assert r["dict_bytes"] == (
        r["n_distinct"] * _Q455_WIDTH + (r["n_rows"] * bits + 7) // 8
    )
    for r in rows.values():
        assert (r["recommendation"] == "dictionary") == (
            r["dict_bytes"] < r["plain_bytes"]
        )


def test_q456_joint_grid_beats_independence_on_correlated_pairs(spark):
    """Multi-column stats must collapse the q-error exactly where
    correlation lives (pairs 1 and 2) and cost nothing measurable on
    the independent control (pair 3)."""
    from databricks_etl_spark.plans.queries_round11b import (
        q456_joint_histogram_estimation,
    )

    rows = {r["pair_id"]: r
            for r in q456_joint_histogram_estimation(
                spark, PARITY_SF_DIR).collect()}
    assert rows[1]["q_error_joint"] < rows[1]["q_error_indep"] / 2
    assert rows[2]["q_error_joint"] < rows[2]["q_error_indep"] / 2
    assert rows[3]["q_error_indep"] < 1.05
    assert rows[3]["q_error_joint"] < 1.05


# ---------------------------------------------------------------------------
# q457 — join-order selection
# ---------------------------------------------------------------------------


def test_q457_estimator_agrees_with_measured_order(spark):
    """In both variants the estimated-best order is the measured-best
    order (dimension first), the filter widens the cost gap, and the
    final join size is order-invariant."""
    from databricks_etl_spark.plans.queries_round11b import (
        q457_join_order_selection,
    )

    rows = {(r["variant"], r["join_order"]): r
            for r in q457_join_order_selection(
                spark, PARITY_SF_DIR).collect()}
    for v in ("full", "filtered"):
        assert rows[(v, "co_l")]["best_estimated"]
        assert rows[(v, "co_l")]["best_actual"]
        assert not rows[(v, "ol_c")]["best_estimated"]
        # the final join size does not depend on the order
        assert (rows[(v, "co_l")]["actual_final"]
                == rows[(v, "ol_c")]["actual_final"])
    gap_full = (rows[("full", "ol_c")]["est_total_cout"]
                / rows[("full", "co_l")]["est_total_cout"])
    gap_filt = (rows[("filtered", "ol_c")]["est_total_cout"]
                / rows[("filtered", "co_l")]["est_total_cout"])
    assert gap_filt > gap_full > 1.0


# ---------------------------------------------------------------------------
# property tests and scale gates
# ---------------------------------------------------------------------------


def test_overlap_fraction_kernel_matches_python_reference(spark):
    """The uniform-within-bucket overlap fraction (shared by q434,
    q445, q454's hit predicate and q456) must agree with a pure-Python
    reference over random predicate/bucket interval pairs — including
    the degenerate constant-bucket branch and both clamp ends."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from databricks_etl_spark.plans.queries_round11b import _q434_frac_sql

    cases = []

    def py_frac(lo, hi, blo, bhi):
        if bhi > blo:
            return max(0.0, min(1.0, (min(hi, bhi) - max(lo, blo))
                                / (bhi - blo)))
        return 1.0 if lo <= blo <= hi else 0.0

    vals = st.integers(min_value=-50, max_value=50).map(float)

    @settings(max_examples=200, deadline=None)
    @given(vals, vals, vals, vals)
    def collect(a, b, c, d):
        lo, hi = min(a, b), max(a, b)
        blo, bhi = min(c, d), max(c, d)
        cases.append((lo, hi, blo, bhi, py_frac(lo, hi, blo, bhi)))

    collect()
    df = spark.createDataFrame(
        cases, "lo double, hi double, blo double, bhi double, want double"
    )
    from pyspark.sql import functions as F2

    got = df.select(
        "want",
        F2.expr(_q434_frac_sql("lo", "hi", "blo", "bhi")).alias("got"),
    ).collect()
    for r in got:
        assert r["got"] == r["want"], (r["want"], r["got"])


@pytest.mark.slow
def test_q442_hit_counts_scale_exactly_under_replication(spark):
    """Duplicating every document 50x must scale every conjunction's
    hit count by exactly 50 (posting lists grow, semantics don't) —
    the correctness-under-scale argument for the intersection
    rollup."""
    from databricks_etl_spark.plans.queries_round11b import (
        _Q442_QUERIES,
        q442_boolean_retrieval,
    )
    from databricks_etl_spark.sources.readers import read_table

    base = {r["query_id"]: r["n_hits"]
            for r in q442_boolean_retrieval(spark, SMOKE_SF_DIR).collect()}

    docs = read_table(spark, SMOKE_SF_DIR, "documents").select(
        "doc_id", "text"
    )
    big = docs.crossJoin(
        spark.range(50).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") * 50 + F.col("rep")).alias("doc_id"), "text"
    )
    toks = big.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).distinct()
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _Q442_QUERIES for t in terms],
        "query_id int, term string",
    )
    qn = q.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    hits = (
        toks.join(F.broadcast(q), toks.w == q.term)
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("w").alias("m"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
        .groupBy("query_id")
        .count()
    )
    scaled = {r["query_id"]: r["count"] for r in hits.collect()}
    for qid, n in base.items():
        assert scaled.get(qid, 0) == 50 * n, (qid, n, scaled.get(qid, 0))


# ---------------------------------------------------------------------------
# q458 — bloom point-lookup pricing
# ---------------------------------------------------------------------------


def test_q458_no_false_negatives_and_fpr_monotone(spark):
    """Blooms admit no false negatives: for every probe key the
    bloom-positive file set must contain every truly-containing file
    (checked per key at the smallest filter, where false positives
    abound); more bits monotonically cut the measured FPR to zero."""
    from pyspark.sql import Window

    from databricks_etl_spark.plans.queries_round11b import (
        _Q458_K,
        _Q458_PROBES,
        _q458_bit_col,
        q458_bloom_point_lookup_pricing,
    )
    from databricks_etl_spark.sources.readers import read_table

    rows = sorted(
        q458_bloom_point_lookup_pricing(spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r["m_bits"],
    )
    fprs = [r["measured_fpr"] for r in rows]
    assert fprs == sorted(fprs, reverse=True)
    assert rows[-1]["measured_fpr"] <= fprs[0]
    for r in rows:
        assert r["avg_files_probed"] >= r["avg_true"]

    m = rows[0]["m_bits"]
    li = read_table(spark, SMOKE_SF_DIR, "lineitem")
    fl = li.select(
        "l_orderkey",
        F.ntile(20)
        .over(Window.orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
        .alias("fid"),
    ).localCheckpoint()
    pr = spark.createDataFrame([(p,) for p in _Q458_PROBES], "pk long")
    true_sets: dict[int, set] = {}
    for r in (
        fl.join(pr, fl.l_orderkey == pr.pk).select("pk", "fid").distinct()
    ).collect():
        true_sets.setdefault(r["pk"], set()).add(r["fid"])
    fb = None
    qb = None
    for j in range(1, _Q458_K + 1):
        f_j = fl.select(
            "fid", _q458_bit_col(j, "l_orderkey", m).alias("bit")
        )
        q_j = pr.select("pk", _q458_bit_col(j, "pk", m).alias("bit"))
        fb = f_j if fb is None else fb.unionByName(f_j)
        qb = q_j if qb is None else qb.unionByName(q_j)
    fb, qb = fb.distinct(), qb.distinct()
    need = qb.groupBy("pk").agg(F.count(F.lit(1)).alias("need"))
    pos_sets: dict[int, set] = {}
    for r in (
        qb.join(fb, "bit")
        .groupBy("pk", "fid")
        .agg(F.count(F.lit(1)).alias("got"))
        .join(need, "pk")
        .filter(F.col("got") == F.col("need"))
    ).collect():
        pos_sets.setdefault(r["pk"], set()).add(r["fid"])
    for pk, tset in true_sets.items():
        assert tset <= pos_sets.get(pk, set()), (pk, tset, pos_sets.get(pk))


# ---------------------------------------------------------------------------
# q459 — storage advisor datasheet consistency
# ---------------------------------------------------------------------------


def test_q459_card_pins_to_storage_components(spark):
    from databricks_etl_spark.plans.queries_round11b import (
        _Q459_FPR_TOL,
        q454_sort_key_selection,
        q455_encoding_advisor,
        q458_bloom_point_lookup_pricing,
        q459_storage_advisor_datasheet,
    )

    card = q459_storage_advisor_datasheet(spark, SMOKE_SF_DIR).collect()[0]
    best = [r for r in q454_sort_key_selection(spark, SMOKE_SF_DIR).collect()
            if r["best"]][0]
    assert card["sort_key"] == best["layout"]
    assert card["sorted_scan_share"] == best["scan_share"]
    bl = {r["m_bits"]: r["measured_fpr"]
          for r in q458_bloom_point_lookup_pricing(
              spark, SMOKE_SF_DIR).collect()}
    ok = [m for m, f in bl.items() if f <= _Q459_FPR_TOL]
    assert card["bloom_bits"] == min(ok)
    assert card["bloom_fpr"] == bl[min(ok)]
    enc = q455_encoding_advisor(spark, SMOKE_SF_DIR).collect()
    dicts = [r for r in enc if r["recommendation"] == "dictionary"]
    assert card["dict_columns"] == len(dicts)
    assert card["bytes_saved"] == sum(
        r["plain_bytes"] - r["dict_bytes"] for r in dicts
    )


# ---------------------------------------------------------------------------
# q460 — schema evolution
# ---------------------------------------------------------------------------


def test_q460_merge_semantics_and_conflict_rejection(spark, tmp_path):
    """Additive evolution: old files surface the new column as NULL.
    Type CONFLICTS must be rejected by the merge reader — the claim
    the lane's docstring leaves observable."""
    from databricks_etl_spark.plans.queries_round11b import (
        q460_schema_evolution_read,
    )

    rows = {r["batch"]: r
            for r in q460_schema_evolution_read(spark, SMOKE_SF_DIR).collect()}
    assert rows[1]["n_null_priority"] == rows[1]["n_rows"]
    assert rows[1]["distinct_priorities"] == 0
    assert rows[2]["n_null_priority"] == 0
    assert rows[2]["distinct_priorities"] > 0

    base = str(tmp_path / "conflict")
    spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v").write.parquet(
        f"{base}/batch=1"
    )
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS v").write.parquet(
        f"{base}/batch=2"
    )
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    # the conflict surfaces at schema-merge (plan) time, as the raw
    # JVM error, before any action runs
    with _pytest.raises(Py4JJavaError, match="CANNOT_MERGE_SCHEMAS"):
        spark.read.option("mergeSchema", "true").parquet(base)


# ---------------------------------------------------------------------------
# q461 — write-audit-publish
# ---------------------------------------------------------------------------


def test_q461_failed_audit_keeps_staged_rows_invisible(spark):
    """Raise the freshness floor past the staged batch: the gate must
    fail and the published location must be byte-identical in row
    count — staged data never leaks past a failed audit. The passing
    path publishes exactly the staged rows."""
    from databricks_etl_spark.plans.queries_round11b import _q461_wap

    ok = _q461_wap(spark, SMOKE_SF_DIR).collect()[0]
    assert ok["gate_pass"] and ok["published"]
    assert ok["visible_after"] == ok["visible_before"] + ok["staged_rows"]

    blocked = _q461_wap(spark, SMOKE_SF_DIR, min_rows=10**9).collect()[0]
    assert not blocked["gate_pass"] and not blocked["published"]
    assert blocked["visible_after"] == blocked["visible_before"]
    assert blocked["staged_rows"] == ok["staged_rows"]
