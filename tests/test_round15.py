"""Round-15 unit tests: invariants for the statistics / ML-pipeline /
graph lanes beyond the oracle-parity suite, plus hostile-slicing
drains for the five new streaming twins (the q576/q583 discipline)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import databricks_etl_spark.plans.queries_round13 as r13
from databricks_etl_spark.plans.registry import queries
from databricks_etl_spark.sources.readers import read_table


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


# --- classifier-eval ladder ------------------------------------------------


def test_q608_ap_bounds_and_counts(spark, smoke_sf_dir):
    """AP is a mean of precisions — it lives in (0, 1]; the positive
    count is bounded by the ranked count."""
    r = _one(queries()["q608_exact_average_precision"](spark, smoke_sf_dir))
    assert 0 < r["ap"] <= 1.0
    assert 0 < r["n_positive"] <= r["n_ranked"]


def test_q609_murphy_identity(spark, smoke_sf_dir):
    """brier = reliability − resolution + uncertainty (Murphy 1973),
    up to the 9dp term rounding."""
    r = _one(queries()["q609_brier_calibration"](spark, smoke_sf_dir))
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=5e-6
    )
    assert 0 <= r["brier"] <= 1
    assert r["reliability"] >= 0 and r["resolution"] >= 0


def test_q626_pr_curve_consistency(spark, smoke_sf_dir):
    """Lower thresholds predict supersets: n_predicted and TP (hence
    recall) are monotone along descending thresholds, and the loosest
    threshold reaches recall 1 over all positives."""
    rows = sorted(
        queries()["q626_precision_recall_curve"](
            spark, smoke_sf_dir
        ).collect(),
        key=lambda r: -r["threshold_s4"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_predicted"] >= a["n_predicted"]
        assert b["tp"] >= a["tp"]
    assert rows[-1]["recall_at"] == pytest.approx(1.0)
    for r in rows:
        assert 0 <= r["precision_at"] <= 1


# --- rank statistics -------------------------------------------------------


def test_q610_rank_sum_conservation(spark, smoke_sf_dir):
    """W⁺ + W⁻ = n(n+1) in doubled units — the signed-rank sums
    partition the total rank mass."""
    r = _one(queries()["q610_wilcoxon_signed_rank"](spark, smoke_sf_dir))
    n = r["n_pairs"]
    assert r["w2_pos"] + r["w2_neg"] == n * (n + 1)
    assert r["w2_pos"] > 0 and r["w2_neg"] > 0


def test_q611_rank_mass_and_constant_h(spark, smoke_sf_dir):
    """Per-group doubled rank sums partition n(n+1); the H columns are
    constant across the 5 group rows; tie correction only grows H."""
    rows = queries()["q611_kruskal_wallis"](spark, smoke_sf_dir).collect()
    assert len(rows) == 5
    n = sum(r["n_orders"] for r in rows)
    assert sum(r["r2_sum"] for r in rows) == n * (n + 1)
    assert len({r["h_stat"] for r in rows}) == 1
    assert len({r["h_tie_corrected"] for r in rows}) == 1
    assert rows[0]["h_tie_corrected"] >= rows[0]["h_stat"] >= 0


# --- moment statistics -----------------------------------------------------


def test_q612_variance_partition(spark, smoke_sf_dir):
    """SSB + SSW equals the directly-computed total sum of squares
    (exact integers in the test, so the tolerance is only the 6dp
    output rounding)."""
    r = _one(queries()["q612_anova_oneway"](spark, smoke_sf_dir))
    rows = (
        read_table(spark, smoke_sf_dir, "customer")
        .select(
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("c")
        )
        .collect()
    )
    xs = [row["c"] for row in rows]
    n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
    sst = q - s * s / n
    assert r["ssb_cents2"] + r["ssw_cents2"] == pytest.approx(
        sst, rel=1e-9
    )
    assert r["eta_sq"] == pytest.approx(
        r["ssb_cents2"] / (r["ssb_cents2"] + r["ssw_cents2"]), abs=5e-6
    )


def test_q613_correlation_bounds(spark, smoke_sf_dir):
    r = _one(queries()["q613_partial_correlation"](spark, smoke_sf_dir))
    for c in (
        "r_qty_price",
        "r_qty_discount",
        "r_price_discount",
        "partial_r_qty_price",
    ):
        assert -1.0 <= r[c] <= 1.0


def test_q614_acf_bounds_and_pair_counts(spark, smoke_sf_dir):
    """|r_k| ≤ 1 and each lag loses exactly k pairs off the series.
    The lane promises no row order (it ends in an unordered groupBy),
    so rows are keyed by lag before n is read off lag 1."""
    rows = sorted(
        queries()["q614_acf_lags"](spark, smoke_sf_dir).collect(),
        key=lambda r: r["lag"],
    )
    assert [r["lag"] for r in rows] == list(range(1, 8))
    n0 = rows[0]["n_pairs"] + 1
    for r in rows:
        assert abs(r["acf"]) <= 1.0
        assert r["n_pairs"] == n0 - r["lag"]


# --- finance / feature engineering ----------------------------------------


def test_q615_bridge_identity(spark, smoke_sf_dir):
    """Δ = price + volume + new − lost per brand, up to the 9dp
    part-term rounding."""
    rows = queries()["q615_price_volume_mix"](spark, smoke_sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert r["delta_cents"] == pytest.approx(
            r["price_effect"]
            + r["volume_effect"]
            + r["new_parts_cents"]
            - r["lost_parts_cents"],
            abs=1e-2,
        )


def test_q616_iv_contributions_nonnegative(spark, smoke_sf_dir):
    """(p_good − p_bad) and ln(p_good/p_bad) always share a sign, so
    every IV contribution is ≥ 0 (up to output rounding)."""
    rows = queries()["q616_woe_information_value"](
        spark, smoke_sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r["iv_contrib"] >= -1e-9


def test_q617_gate_verdict_and_bounded_regret(spark, smoke_sf_dir):
    """Brand carries no return signal on this corpus, so the gate
    rejects the feature — and the m=20 smoothing bounds the held-out
    regret vs the prior baseline to a whisker."""
    r = _one(queries()["q617_target_encoding_audit"](spark, smoke_sf_dir))
    assert r["keep_feature"] == (r["mse_encoded"] < r["mse_prior"])
    assert abs(r["mse_encoded"] - r["mse_prior"]) < 0.01
    assert r["n_train"] > 0 and r["n_heldout"] > 0
    assert r["n_categories"] == 25


def test_q618_stump_count_algebra(spark, smoke_sf_dir):
    """Left/right counts partition the table; the chosen split's gain
    is non-negative (splitting can never increase weighted Gini)."""
    r = _one(queries()["q618_decision_stump"](spark, smoke_sf_dir))
    o = read_table(spark, smoke_sf_dir, "orders")
    n = o.count()
    pos = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    assert r["n_left"] + r["n_right"] == n
    assert r["pos_left"] + r["pos_right"] == pos
    assert r["gain"] >= -1e-9
    assert r["weighted_gini"] <= r["parent_gini"] + 1e-9


# --- graph family ----------------------------------------------------------


def test_q619_sssp_starts_at_zero_and_sorts(spark, smoke_sf_dir):
    rows = queries()["q619_sssp_weighted"](spark, smoke_sf_dir).collect()
    assert rows[0]["dist"] == 0  # the hub itself
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_q620_peeling_is_monotone(spark, smoke_sf_dir):
    rows = sorted(
        queries()["q620_kcore_peeling"](spark, smoke_sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert len(rows) == 6
    for a, b in zip(rows, rows[1:]):
        assert b["nodes_remaining"] <= a["nodes_remaining"]
        assert b["edges_remaining"] <= a["edges_remaining"]


def test_q621_scores_are_ranked_and_bounded(spark, smoke_sf_dir):
    rows = queries()["q621_link_prediction"](spark, smoke_sf_dir).collect()
    assert rows
    aas = [r["adamic_adar"] for r in rows]
    assert aas == sorted(aas, reverse=True)
    for r in rows:
        assert r["common_neighbors"] >= 1
        assert 0 < r["jaccard"] <= 1.0


@pytest.mark.slow
def test_q624_refines_components(spark, smoke_sf_dir):
    """Labels never cross components, so LPA's community count is ≥
    q514's component count (the mode ≠ min pin)."""
    q = queries()
    n_comp = len(
        q["q514_connected_components_oracled"](spark, smoke_sf_dir)
        .collect()
    )
    rows = q["q624_label_propagation"](spark, smoke_sf_dir).collect()
    sizes = [r["n_members"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    # top-20 is a truncation: communities ≥ max(20-th view, components)
    assert len(rows) >= min(20, n_comp)


def test_q634_critical_path_sorts_desc(spark, smoke_sf_dir):
    rows = queries()["q634_critical_path"](spark, smoke_sf_dir).collect()
    lens = [r["critical_len"] for r in rows]
    assert lens == sorted(lens, reverse=True)
    assert all(v >= 0 for v in lens)


# --- forecasting / tails / econometrics ------------------------------------


def test_q622_holt_card_algebra(spark, smoke_sf_dir):
    r = _one(queries()["q622_holt_linear_trend"](spark, smoke_sf_dir))
    assert r["n_eval"] == r["n_months"] - 2
    assert (
        r["forecast_next_cents"]
        == r["final_level_cents"] + r["final_trend_cents"]
    )
    assert r["sae_cents"] >= 0


def test_q623_confusion_is_a_partition(spark, smoke_sf_dir):
    """Every test doc with ≥1 token lands in exactly one confusion
    cell; labels come from the training class set."""
    rows = queries()["q623_naive_bayes_langid"](spark, smoke_sf_dir).collect()
    langs = {"de", "en", "es", "fr", "zh"}
    assert sum(r["n_docs"] for r in rows) > 0
    for r in rows:
        assert r["true_lang"] in langs and r["pred_lang"] in langs


def test_q625_v_bounds(spark, smoke_sf_dir):
    rows = queries()["q625_cramers_v_matrix"](spark, smoke_sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["chi_sq"] >= 0
        assert 0 <= r["cramers_v"] <= 1.0


def test_q632_seasonal_grain(spark, smoke_sf_dir):
    rows = queries()["q632_seasonal_decomposition"](
        spark, smoke_sf_dir
    ).collect()
    assert len(rows) == 12
    assert {r["month_of_year"] for r in rows} == set(range(1, 13))
    assert all(r["n_obs"] >= 1 for r in rows)


def test_q633_prefix_feature_is_informative(spark, smoke_sf_dir):
    """Exact dups share their 16-char prefix, so the prefix feature's
    agreement weight is positive and its disagreement weight
    negative; m > u for it."""
    rows = {
        r["feature"]: r
        for r in queries()["q633_fellegi_sunter"](
            spark, smoke_sf_dir
        ).collect()
    }
    assert set(rows) == {"lang_agree", "source_agree", "prefix16_agree"}
    pre = rows["prefix16_agree"]
    assert pre["m_prob"] > pre["u_prob"]
    assert pre["agree_weight"] > 0 > pre["disagree_weight"]


def test_q635_mean_excess_monotonicity(spark, smoke_sf_dir):
    rows = sorted(
        queries()["q635_mean_excess_evt"](spark, smoke_sf_dir).collect(),
        key=lambda r: r["threshold_cents"],
    )
    assert len(rows) == 4
    for a, b in zip(rows, rows[1:]):
        assert b["n_exceed"] <= a["n_exceed"]
        assert b["tail_fraction"] <= a["tail_fraction"]
    for r in rows:
        assert r["mean_excess_cents"] > 0
        assert r["max_cents"] > r["threshold_cents"]


def test_q636_elasticity_grain_and_r_bounds(spark, smoke_sf_dir):
    rows = queries()["q636_price_elasticity"](spark, smoke_sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert -1.0 <= r["r_lnp_lnq"] <= 1.0
        assert r["n_months"] >= 2


# --- streaming twins: hostile slicing --------------------------------------


@pytest.mark.slow
def test_q627_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming SSSP drain ≡ q619 under a hostile 13-way order-grain
    slicing (edges rebuilt from landed state only)."""
    q = queries()
    batch = _collect_sorted(q["q619_sssp_weighted"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(q["q627_streaming_sssp"](spark, smoke_sf_dir))
    assert drained == batch


@pytest.mark.slow
def test_q628_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming AP drain ≡ q608 under a hostile 13-way doc slicing."""
    q = queries()
    batch = _collect_sorted(
        q["q608_exact_average_precision"](spark, smoke_sf_dir)
    )
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q628_streaming_average_precision"](spark, smoke_sf_dir)
    )
    assert drained == batch


@pytest.mark.slow
def test_q629_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming WoE drain ≡ q616 under a hostile 13-way customer
    slicing (bin partials merge associatively)."""
    q = queries()
    batch = _collect_sorted(
        q["q616_woe_information_value"](spark, smoke_sf_dir)
    )
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(q["q629_streaming_woe"](spark, smoke_sf_dir))
    assert drained == batch


@pytest.mark.slow
def test_q630_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming Holt drain ≡ q622 under a hostile 13-way order
    slicing (monthly partials commute; only the month axis orders the
    fold)."""
    q = queries()
    batch = _collect_sorted(q["q622_holt_linear_trend"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(q["q630_streaming_holt"](spark, smoke_sf_dir))
    assert drained == batch


@pytest.mark.slow
def test_q631_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming Cramér's V drain ≡ q625 under a hostile 13-way order
    slicing (contingency cells merge associatively)."""
    q = queries()
    batch = _collect_sorted(q["q625_cramers_v_matrix"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q631_streaming_cramers_v"](spark, smoke_sf_dir)
    )
    assert drained == batch


# --- scale guards ----------------------------------------------------------


@pytest.mark.slow
def test_q612_sf01_overflow_guard(spark):
    """sf0.1 drives the grand cent-sum's square past BIGINT (~5.6e19):
    the DECIMAL(38,0)/HUGEINT floor-division path must survive where
    the naive ``s * s DIV n`` form raised ANSI ARITHMETIC_OVERFLOW
    (caught in round 15 — this pins the fix at the breaking sf)."""
    import os

    sf01 = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.1"
    )
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata absent")
    r = _one(queries()["q612_anova_oneway"](spark, sf01))
    assert r["n_customers"] > 10_000
    assert r["ssb_cents2"] > 0 and r["ssw_cents2"] > 0


# --- wave-2 deferred lanes -------------------------------------------------


def test_q637_mcnemar_partition(spark, smoke_sf_dir):
    """The four McNemar cells partition the compared docs, and the
    winner verdict matches the discordant counts."""
    r = _one(queries()["q637_mcnemar_compare"](spark, smoke_sf_dir))
    total = (
        r["both_right"]
        + r["both_wrong"]
        + r["heur_only_right"]
        + r["nb_only_right"]
    )
    assert total > 0
    b, c = r["heur_only_right"], r["nb_only_right"]
    expect = "nb" if c > b else ("heuristic" if b > c else "tie")
    assert r["winner"] == expect


def test_q638_kappa_algebra(spark, smoke_sf_dir):
    r = _one(queries()["q638_cohens_kappa"](spark, smoke_sf_dir))
    assert 0 <= r["p_observed"] <= 1 and 0 < r["p_expected"] < 1
    assert r["kappa"] == pytest.approx(
        (r["p_observed"] - r["p_expected"]) / (1 - r["p_expected"]),
        abs=5e-6,
    )
    assert r["kappa"] <= r["p_observed"] + 1e-9


def test_q639_transitivity_cross_check(spark, smoke_sf_dir):
    """Σ closed pairs over ALL nodes = 3 × the q185 triangle total,
    and per-node coefficients live in [0, 1]."""
    rows = queries()["q639_clustering_coefficient"](
        spark, smoke_sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r["coef"] <= 1.0
        assert 0 <= r["global_transitivity"] <= 1.0
        assert r["closed_pairs"] <= r["degree"] * (r["degree"] - 1) / 2


def test_q640_assortativity_bounds(spark, smoke_sf_dir):
    r = _one(queries()["q640_degree_assortativity"](spark, smoke_sf_dir))
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_edges"] > 0 and r["mean_src_degree"] >= 1.0


def test_q641_bartlett_nonnegative(spark, smoke_sf_dir):
    r = _one(queries()["q641_bartlett_test"](spark, smoke_sf_dir))
    assert r["bartlett_t"] >= 0
    assert r["pooled_var_cents2"] > 0
    assert r["k_groups"] == 5


def test_q642_newsvendor_fractile(spark, smoke_sf_dir):
    """Q* is the 0.8-fractile: achieved service ≥ 0.8, and removing
    one grain step would drop below — plus the cost ratio reflects
    cu:co = 4:1 pressure (under-cost weighted 4×)."""
    rows = queries()["q642_newsvendor"](spark, smoke_sf_dir).collect()
    assert rows
    for r in rows:
        assert r["achieved_service"] >= 0.8 - 1e-9
        assert r["exp_under_cost"] >= 0 and r["exp_over_cost"] >= 0
        assert r["q_star_qty"] >= 0


def test_q643_mi_bounds(spark, smoke_sf_dir):
    """0 ≤ MI ≤ min(H_a, H_b) up to term rounding; NMI in [0,1]."""
    rows = queries()["q643_mutual_information"](
        spark, smoke_sf_dir
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["mi_nats"] >= -1e-6
        assert r["mi_nats"] <= min(r["h_a"], r["h_b"]) + 1e-6
        assert -1e-6 <= r["nmi"] <= 1 + 1e-6


def test_q644_heaps_saturated_corpus(spark, smoke_sf_dir):
    """The synthetic corpus has a CLOSED 31-token vocabulary, so the
    growth curve saturates at the first checkpoint: the honest fit
    is β ≈ 0 with K ≈ |V| (on a natural corpus the same lane yields
    0 < β < 1)."""
    r = _one(queries()["q644_heaps_law_fit"](spark, smoke_sf_dir))
    assert 0 <= r["heaps_beta"] < 1
    assert r["heaps_k"] == pytest.approx(r["vocab_size"], rel=0.05)
    assert r["n_points"] >= 4
    assert r["vocab_size"] <= r["n_tokens"]


# --- wave-3 deferred lanes -------------------------------------------------


def test_q645_pacf_identities(spark, smoke_sf_dir):
    """pacf1 ≡ acf1 by construction; low-lag PACF of a stationary
    series stays in [−1, 1]."""
    r = _one(queries()["q645_pacf_durbin_levinson"](spark, smoke_sf_dir))
    assert r["pacf1"] == r["acf1"]
    for c in ("acf1", "acf2", "acf3", "pacf2", "pacf3"):
        assert abs(r[c]) <= 1.0


def test_q646_cuped_readout(spark, smoke_sf_dir):
    """Variance reduction is ρ² ∈ [0, 1]; the md5 A/A arms keep both
    readouts small relative to mean spend."""
    r = _one(queries()["q646_cuped_adjustment"](spark, smoke_sf_dir))
    assert 0 <= r["var_reduction"] <= 1.0
    assert 0 < r["n_arm_a"] < r["n_customers"]


def test_q647_hazard_vs_km(spark, smoke_sf_dir):
    """Nelson–Aalen H(t) is monotone and bounded by −ln(S_KM(t))
    wherever q540's survival is positive — the additive/
    multiplicative estimator ordering (1−x ≤ e^−x)."""
    import math

    q = queries()
    na = sorted(
        q["q647_nelson_aalen"](spark, smoke_sf_dir).collect(),
        key=lambda r: r["t_days"],
    )
    km = {
        r["t_days"]: r["survival"]
        for r in q["q540_kaplan_meier"](spark, smoke_sf_dir).collect()
    }
    prev = 0.0
    for r in na:
        assert r["cumulative_hazard"] >= prev - 1e-9
        prev = r["cumulative_hazard"]
        s = km.get(r["t_days"])
        if s is not None and s > 0:
            assert r["cumulative_hazard"] <= -math.log(s) + 1e-6


def test_q648_logrank_aa_null(spark, smoke_sf_dir):
    """md5 arms are an A/A split: |z| stays modest; the O = (O−E) + E
    algebra holds exactly up to output rounding."""
    r = _one(queries()["q648_logrank_test"](spark, smoke_sf_dir))
    assert abs(r["z_logrank"]) < 4.0
    assert r["observed_a"] == pytest.approx(
        r["o_minus_e"] + r["expected_a"], abs=2e-6
    )
    assert r["variance"] > 0


def test_q649_shrinkage_between(spark, smoke_sf_dir):
    """Every shrunk rate lies between the raw and pooled rates (the
    EB estimator is a convex combination)."""
    rows = queries()["q649_eb_shrinkage"](spark, smoke_sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        lo = min(r["raw_rate"], r["pooled_rate"]) - 1e-6
        hi = max(r["raw_rate"], r["pooled_rate"]) + 1e-6
        assert lo <= r["shrunk_rate"] <= hi
        assert r["pseudo_mass"] >= 0


def test_q650_composition_verdict(spark, smoke_sf_dir):
    """The seasonal_helped verdict matches the exact SAE comparison
    and the improvement percentage is consistent with the integers."""
    r = _one(queries()["q650_holt_winters_composed"](spark, smoke_sf_dir))
    assert r["seasonal_helped"] == (
        r["sae_seasonal_micro"] < r["sae_plain_micro"]
    )
    assert r["improvement_pct"] == pytest.approx(
        100 * (1 - r["sae_seasonal_micro"] / r["sae_plain_micro"]),
        abs=5e-6,
    )
    assert r["n_months"] >= 13


# --- wave-4 streaming twins: hostile slicing -------------------------------


@pytest.mark.slow
def test_q651_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming newsvendor drain ≡ q642 under a hostile 13-way
    lineitem slicing (a day's demand splits across epochs; the
    day-grain merge repairs it)."""
    q = queries()
    batch = _collect_sorted(q["q642_newsvendor"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q651_streaming_newsvendor"](spark, smoke_sf_dir)
    )
    assert drained == batch


@pytest.mark.slow
def test_q652_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming EB drain ≡ q649 under hostile slicing (the prior is
    refit at drain over merged partials)."""
    q = queries()
    batch = _collect_sorted(q["q649_eb_shrinkage"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q652_streaming_eb_shrinkage"](spark, smoke_sf_dir)
    )
    assert drained == batch


@pytest.mark.slow
def test_q653_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    """Streaming Nelson–Aalen drain ≡ q647 under hostile user-grain
    slicing (risk set rebuilt from landed durations only)."""
    q = queries()
    batch = _collect_sorted(q["q647_nelson_aalen"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q653_streaming_nelson_aalen"](spark, smoke_sf_dir)
    )
    assert drained == batch


@pytest.mark.slow
def test_q654_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    q = queries()
    batch = _collect_sorted(
        q["q640_degree_assortativity"](spark, smoke_sf_dir)
    )
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q654_streaming_assortativity"](spark, smoke_sf_dir)
    )
    assert drained == batch


@pytest.mark.slow
def test_q655_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    q = queries()
    batch = _collect_sorted(q["q620_kcore_peeling"](spark, smoke_sf_dir))
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q655_streaming_kcore"](spark, smoke_sf_dir)
    )
    assert drained == batch


@pytest.mark.slow
def test_q656_hostile_slicing_matches_batch(spark, smoke_sf_dir, monkeypatch):
    q = queries()
    batch = _collect_sorted(
        q["q643_mutual_information"](spark, smoke_sf_dir)
    )
    monkeypatch.setattr(r13, "_STREAM_EPOCHS", 13)
    drained = _collect_sorted(
        q["q656_streaming_mutual_information"](spark, smoke_sf_dir)
    )
    assert drained == batch
