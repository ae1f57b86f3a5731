"""r14 operator batch: unit tests with hand-computed expectations for
moment normality, lag autocorrelation cells, quadrant correlation,
Kuiper, Krippendorff alpha, Hodges-Lehmann and Cuzick trend.  The faces
built on these operators are oracle-checked with every other face in
tests/test_oracle_parity.py."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------ moments_jb_cells


def test_jarque_bera_hand_example(spark):
    """[1,2,3,4]: S=(10,30,100,354); M2=20, M3=0 (symmetric),
    M4=656 (= 64 * 10.25); b2 = 656/400 = 1.64;
    JB = 4/6 * (0 + (1.64-3)^2/4)."""
    from npm_mirror_spark.operators.stats import moments_jb_cells

    df = spark.createDataFrame([(1,), (2,), (3,), (4,)], "x long")
    r = moments_jb_cells(df, "x").collect()[0]
    assert (r["n_rows"], r["s1"]) == (4, 10.0)
    assert (r["m2_xn"], r["m3_xn2"], r["m4_xn3"]) == (20.0, 0.0, 656.0)
    assert r["skew_sq"] == 0.0
    assert r["kurt_b2"] == 656.0 / 400.0
    assert r["jb"] == 4.0 / 6.0 * ((1.64 - 3.0) * (1.64 - 3.0) / 4.0)


def test_jarque_bera_constant_and_empty(spark):
    from npm_mirror_spark.operators.stats import moments_jb_cells

    const = spark.createDataFrame([(5,), (5,)], "x long")
    r = moments_jb_cells(const, "x").collect()[0]
    assert r["m2_xn"] == 0.0 and r["jb"] is None
    empty = spark.createDataFrame([], "x long")
    r = moments_jb_cells(empty, "x").collect()[0]
    assert r["n_rows"] == 0 and r["jb"] is None


# --------------------------------------------------- kuiper_2samp_cells


def test_kuiper_hand_example(spark):
    """A=[1,1,2], B=[2,3,3]: diff at v=1 is 6, at v=2 is 6, at v=3 is
    0 -> D+ = 6, D- = 0, V = 6/9."""
    from npm_mirror_spark.operators.stats import kuiper_2samp_cells

    rows = [(1, True), (1, True), (2, True), (2, False), (3, False), (3, False)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    r = kuiper_2samp_cells(df, "v", F.col("a")).collect()[0]
    assert (r["n1"], r["n2"]) == (3, 3)
    assert (r["d_plus_num"], r["d_minus_num"], r["v_num"]) == (6.0, 0.0, 6.0)
    assert r["v"] == 6.0 / 9.0


def test_kuiper_one_sided_clamp(spark):
    """A entirely above B: D+ clamps to 0, D- carries the whole gap."""
    from npm_mirror_spark.operators.stats import kuiper_2samp_cells

    df = spark.createDataFrame([(3, True), (1, False)], "v long, a boolean")
    r = kuiper_2samp_cells(df, "v", F.col("a")).collect()[0]
    assert (r["d_plus_num"], r["d_minus_num"], r["v"]) == (0.0, 1.0, 1.0)


def test_kuiper_vs_ks_dual_tail(spark):
    """Mass pushed out of BOTH tails: V strictly exceeds the KS D."""
    from npm_mirror_spark.operators.stats import kuiper_2samp_cells, ks_2samp

    # A = extremes, B = middle
    rows = [(1, True), (5, True), (3, False), (3, False)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    ku = kuiper_2samp_cells(df, "v", F.col("a")).collect()[0]
    ks = ks_2samp(df, "v", F.col("a")).collect()[0]
    assert ku["v_num"] > ks["d_num"]
    # v=1: diff = 1*2-0 = 2; v=3: 2-4 = -2; v=5: 0 -> D+=2, D-=2, V=4
    assert (ku["d_plus_num"], ku["d_minus_num"]) == (2.0, 2.0)


# ------------------------------------------------- hodges_lehmann_2samp


def test_hodges_lehmann_hand_examples(spark):
    from npm_mirror_spark.operators.stats import hodges_lehmann_2samp

    # A=[1,4], B=[2,3]: diffs {-2,-1,1,2} -> doubled median 0
    df = spark.createDataFrame(
        [(1, True), (4, True), (2, False), (3, False)], "v long, a boolean"
    )
    r = hodges_lehmann_2samp(df, "v", F.col("a")).collect()[0]
    assert (r["n1"], r["n2"], r["n_pairs"]) == (2, 2, 4.0)
    assert (r["hl2_x"], r["hl"]) == (0.0, 0.0)
    # A=[5,6], B=[1,2]: diffs {3,4,4,5} -> median 4
    df = spark.createDataFrame(
        [(5, True), (6, True), (1, False), (2, False)], "v long, a boolean"
    )
    r = hodges_lehmann_2samp(df, "v", F.col("a")).collect()[0]
    assert (r["hl2_x"], r["hl"]) == (8.0, 4.0)


def test_hodges_lehmann_pure_shift_recovers_delta(spark):
    """B = A + 10 exactly: the HL estimate of A - B is exactly -10."""
    from npm_mirror_spark.operators.stats import hodges_lehmann_2samp

    a = [(v, True) for v in (3, 1, 4, 1, 5, 9, 2, 6)]
    b = [(v + 10, False) for v, _ in a]
    df = spark.createDataFrame(a + b, "v long, a boolean")
    r = hodges_lehmann_2samp(df, "v", F.col("a")).collect()[0]
    assert r["hl"] == -10.0


# -------------------------------------------------- cuzick_trend_cells


def test_cuzick_hand_example_no_ties(spark):
    """Scores 1,2,3 with values (1,2),(3,4),(5,6): perfect trend.
    t_x2 = 2*(1*3 + 2*7 + 3*11) = 100; E = (6+1)*12 = 84."""
    from npm_mirror_spark.operators.stats import cuzick_trend_cells

    rows = [(1, 1), (2, 1), (3, 2), (4, 2), (5, 3), (6, 3)]
    df = spark.createDataFrame(rows, "v long, l long")
    r = cuzick_trend_cells(df, "v", "l").collect()[0]
    assert (r["n_rows"], r["k_groups"]) == (6, 3)
    assert (r["t_x2"], r["e_t_x2"]) == (100.0, 84.0)
    assert (r["sum_ln"], r["sum_l2n"], r["tie_cube_sum"]) == (12.0, 28.0, 0.0)


def test_cuzick_hand_example_with_ties(spark):
    """g1=[1,1], g2=[1,2]: v=1 has mr2=4, v=2 has mr2=8;
    t_x2 = 8+8+16 = 32; E = 5*6 = 30; tie_cube = 24."""
    from npm_mirror_spark.operators.stats import cuzick_trend_cells

    rows = [(1, 1), (1, 1), (1, 2), (2, 2)]
    df = spark.createDataFrame(rows, "v long, l long")
    r = cuzick_trend_cells(df, "v", "l").collect()[0]
    assert (r["t_x2"], r["e_t_x2"], r["tie_cube_sum"]) == (32.0, 30.0, 24.0)


def test_cuzick_null_expectation_under_exchange(spark):
    """A score permutation that swaps group labels evenly leaves
    sum_ln (hence E) fixed; t_x2 - e_t_x2 flips sign when the trend
    direction reverses."""
    from npm_mirror_spark.operators.stats import cuzick_trend_cells

    up = [(v, s) for v, s in [(1, 1), (2, 1), (3, 2), (4, 2), (5, 3), (6, 3)]]
    dn = [(v, 4 - s) for v, s in up]
    r_up = cuzick_trend_cells(
        spark.createDataFrame(up, "v long, l long"), "v", "l"
    ).collect()[0]
    r_dn = cuzick_trend_cells(
        spark.createDataFrame(dn, "v long, l long"), "v", "l"
    ).collect()[0]
    assert r_up["e_t_x2"] == r_dn["e_t_x2"]
    assert r_up["t_x2"] - r_up["e_t_x2"] == -(r_dn["t_x2"] - r_dn["e_t_x2"])


# ---------------------------------------------------- blomqvist_beta


def test_blomqvist_perfect_and_anti(spark):
    from npm_mirror_spark.operators.checks import blomqvist_beta_cells

    mono = [(i, i) for i in range(1, 6)]
    r = blomqvist_beta_cells(
        spark.createDataFrame(mono, "x long, y long"), "x", "y"
    ).collect()[0]
    # (3,3) sits ON both medians -> counted out
    assert (r["n_rows"], r["n_on"]) == (5, 1)
    assert (r["n_pp"], r["n_mm"], r["n_pm"], r["n_mp"]) == (2, 2, 0, 0)
    assert r["beta"] == 1.0
    anti = [(i, 6 - i) for i in range(1, 6)]
    r = blomqvist_beta_cells(
        spark.createDataFrame(anti, "x long, y long"), "x", "y"
    ).collect()[0]
    assert r["beta"] == -1.0


def test_blomqvist_even_split_no_on_rows(spark):
    from npm_mirror_spark.operators.checks import blomqvist_beta_cells

    rows = [(1, 1), (2, 2), (3, 3), (4, 4)]
    r = blomqvist_beta_cells(
        spark.createDataFrame(rows, "x long, y long"), "x", "y"
    ).collect()[0]
    # med2 = 5 on both axes; 2x in {2,4,6,8} never equals 5
    assert (r["n_on"], r["med2_x"], r["med2_y"]) == (0, 5.0, 5.0)
    assert r["beta"] == 1.0


def test_blomqvist_independent_grid_is_zero(spark):
    from npm_mirror_spark.operators.checks import blomqvist_beta_cells

    rows = [(x, y) for x in range(1, 5) for y in range(1, 5)]
    r = blomqvist_beta_cells(
        spark.createDataFrame(rows, "x long, y long"), "x", "y"
    ).collect()[0]
    assert r["beta"] == 0.0


# ------------------------------------------- krippendorff_alpha_cells


def test_krippendorff_hand_example(spark):
    """u1=(a,a), u2=(a,b), u3=(b,b,b): coincidence o_ab = o_ba = 1,
    margins n_a = 3, n_b = 4, n.. = 7 -> alpha = 1 - 6*4/(2*24) = 0.5."""
    from npm_mirror_spark.operators.checks import krippendorff_alpha_cells

    rows = [
        ("u1", "a"), ("u1", "a"),
        ("u2", "a"), ("u2", "b"),
        ("u3", "b"), ("u3", "b"), ("u3", "b"),
    ]
    df = spark.createDataFrame(rows, "u string, v string")
    r = krippendorff_alpha_cells(df, "u", "v").collect()[0]
    assert (r["n_units"], r["n_dropped"], r["n_ratings"]) == (3, 0, 7)
    assert (r["disagree_x2"], r["margin_sq_sum"]) == (4.0, 25.0)
    assert r["alpha"] == 0.5


def test_krippendorff_perfect_agreement_and_drops(spark):
    from npm_mirror_spark.operators.checks import krippendorff_alpha_cells

    rows = [
        ("u1", "a"), ("u1", "a"), ("u1", "a"),
        ("u2", "b"), ("u2", "b"),
        ("u3", "a"),  # single rating -> dropped
    ]
    df = spark.createDataFrame(rows, "u string, v string")
    r = krippendorff_alpha_cells(df, "u", "v").collect()[0]
    assert (r["n_units"], r["n_dropped"]) == (2, 1)
    assert r["disagree_x2"] == 0.0 and r["alpha"] == 1.0


def test_krippendorff_raises_past_three_raters(spark):
    from npm_mirror_spark.operators.checks import krippendorff_alpha_cells

    rows = [("u1", "a")] * 4
    df = spark.createDataFrame(rows, "u string, v string")
    with pytest.raises(Exception, match="m <= 3"):
        krippendorff_alpha_cells(df, "u", "v").collect()


# ----------------------------------------------------- morans_lag_cells


def test_morans_lag1_hand_example(spark):
    """Consecutive days [1,2,3,4], lag 1: pair_prod_xn2 = 20,
    I = 20/(3*20) = 1/3; sq_diff = 3, C = 4*3*3/(2*3*20) = 0.3."""
    from npm_mirror_spark.operators.temporal import morans_lag_cells

    rows = [(dt.date(2024, 1, i), i) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = morans_lag_cells(df, "d", "x", lag_days=1).collect()[0]
    assert (r["n_days"], r["lag_days"], r["n_pairs"]) == (4, 1, 3)
    assert (r["pair_prod_xn2"], r["sq_diff_sum"], r["m2_xn"]) == (
        20.0, 3.0, 20.0,
    )
    assert r["morans_i"] == 20.0 / 60.0
    assert r["gearys_c"] == 4.0 * 3.0 * 3.0 / (2.0 * 3.0 * 20.0)


def test_morans_weekly_lag_pairs_only_where_both_days_exist(spark):
    from npm_mirror_spark.operators.temporal import morans_lag_cells

    # days 1..14 minus day 9: lag-7 pairs (1,8),(3,10)..(7,14) = 6 pairs
    days = [d for d in range(1, 15) if d != 9]
    rows = [(dt.date(2024, 1, d), d % 3) for d in days]
    df = spark.createDataFrame(rows, "d date, x long")
    r = morans_lag_cells(df, "d", "x", lag_days=7).collect()[0]
    assert r["n_pairs"] == 6 and r["lag_days"] == 7


def test_morans_perfect_weekly_season_is_positive(spark):
    """x = weekday index repeated: lag-7 neighbors identical ->
    Moran's I at lag 7 is maximal positive, Geary's C is 0."""
    from npm_mirror_spark.operators.temporal import morans_lag_cells

    rows = [(dt.date(2024, 1, d), d % 7) for d in range(1, 29)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = morans_lag_cells(df, "d", "x", lag_days=7).collect()[0]
    assert r["gearys_c"] == 0.0
    assert r["morans_i"] > 0.9


# ===================== r16-staged wave (second r14 batch) ==============


def test_cronbach_perfect_and_partial(spark):
    """Two perfectly-correlated items: alpha = 1.  Swapping one pair
    (B = 1,2,4,3): item vars 20+20, total var 72 -> alpha = 8/9."""
    from npm_mirror_spark.operators.checks import cronbach_alpha_cells

    perfect = [(u, i, v) for u, v in enumerate([1, 2, 3, 4])
               for i in ("A", "B")]
    df = spark.createDataFrame(perfect, "u long, i string, v long")
    r = cronbach_alpha_cells(df, "u", "i", "v").collect()[0]
    assert (r["n_subjects"], r["k_items"], r["n_dropped"]) == (4, 2, 0)
    assert (r["item_var_sum_xn2"], r["total_var_xn2"]) == (40.0, 80.0)
    assert r["alpha"] == 1.0
    rows = [(u, "A", v) for u, v in enumerate([1, 2, 3, 4])]
    rows += [(u, "B", v) for u, v in enumerate([1, 2, 4, 3])]
    df = spark.createDataFrame(rows, "u long, i string, v long")
    r = cronbach_alpha_cells(df, "u", "i", "v").collect()[0]
    assert (r["item_var_sum_xn2"], r["total_var_xn2"]) == (40.0, 72.0)
    assert r["alpha"] == 2.0 / 1.0 * (1.0 - 40.0 / 72.0)


def test_cronbach_zero_total_variance_and_drops(spark):
    from npm_mirror_spark.operators.checks import cronbach_alpha_cells

    rows = [(u, "A", v) for u, v in enumerate([1, 2, 3, 4])]
    rows += [(u, "B", 5 - v) for u, v in enumerate([1, 2, 3, 4])]
    rows += [(9, "A", 7)]  # incomplete subject -> dropped
    df = spark.createDataFrame(rows, "u long, i string, v long")
    r = cronbach_alpha_cells(df, "u", "i", "v").collect()[0]
    assert (r["n_subjects"], r["n_dropped"]) == (4, 1)
    assert r["total_var_xn2"] == 0.0 and r["alpha"] is None


def test_gwet_ac1_hand_example(spark):
    """4 units x 2 raters: (a,a),(a,a),(a,b),(b,b): agree=6, margins
    (5,3) -> pa = 0.75, pe = 30/64, AC1 = 9/17."""
    from npm_mirror_spark.operators.checks import gwet_ac1_cells

    rows = [
        ("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "a"),
        ("u3", "a"), ("u3", "b"), ("u4", "b"), ("u4", "b"),
    ]
    df = spark.createDataFrame(rows, "u string, v string")
    r = gwet_ac1_cells(df, "u", "v", 2).collect()[0]
    assert (r["n_units"], r["n_dropped"], r["k_categories"]) == (4, 0, 2)
    assert (r["agree_pairs"], r["margin_sq_sum"]) == (6.0, 34.0)
    assert r["pa"] == 0.75
    assert r["pe"] == 30.0 / 64.0
    assert r["ac1"] == (0.75 - 30.0 / 64.0) / (1.0 - 30.0 / 64.0)


def test_gwet_ac1_prevalence_robustness_vs_fleiss_shape(spark):
    """The kappa-paradox fixture: near-unanimous single category.
    AC1 stays high where margin-based chance correction collapses."""
    from npm_mirror_spark.operators.checks import gwet_ac1_cells

    rows = []
    for u in range(9):
        rows += [(f"u{u}", "a"), (f"u{u}", "a")]
    rows += [("u9", "a"), ("u9", "b")]
    df = spark.createDataFrame(rows, "u string, v string")
    r = gwet_ac1_cells(df, "u", "v", 2).collect()[0]
    assert r["ac1"] > 0.85


def test_footrule_hand_example(spark):
    from npm_mirror_spark.operators.checks import footrule_cells

    df = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2)], "x long, y long"
    )
    r = footrule_cells(df, "x", "y").collect()[0]
    assert (r["n_rows"], r["footrule_x2"], r["sq_diff_x4"]) == (3, 4.0, 8.0)


def test_footrule_identical_rankings_zero(spark):
    from npm_mirror_spark.operators.checks import footrule_cells

    df = spark.createDataFrame(
        [(v, 10 * v) for v in (4, 1, 3, 2, 2)], "x long, y long"
    )
    r = footrule_cells(df, "x", "y").collect()[0]
    assert (r["footrule_x2"], r["sq_diff_x4"]) == (0.0, 0.0)


def test_partial_tau_perfect_through_confounder(spark):
    """y == x and z coarsens x: tau_xy = 1 and tau_xz = tau_yz, so
    the partial is exactly 1 (the radicand is a perfect square)."""
    from npm_mirror_spark.operators.checks import partial_tau_cells

    rows = [(1, 1, 1), (2, 2, 1), (3, 3, 2), (4, 4, 2)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_tau_cells(df, "x", "y", "z").collect()[0]
    assert r["n_rows"] == 4
    assert r["tau_xy"] == 1.0
    assert r["tau_xz"] == r["tau_yz"]
    assert r["tau_partial"] == 1.0


def test_partial_tau_null_when_z_saturates(spark):
    """z == x: tau_xz = 1, radicand 0 -> NULL partial."""
    from npm_mirror_spark.operators.checks import partial_tau_cells

    rows = [(v, 5 - v, v) for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_tau_cells(df, "x", "y", "z").collect()[0]
    assert r["tau_xz"] == 1.0 and r["tau_partial"] is None


def test_robust_shape_hand_examples(spark):
    from npm_mirror_spark.operators.stats import robust_shape_cells

    df = spark.createDataFrame([(v,) for v in range(1, 9)], "x long")
    r = robust_shape_cells(df, "x").collect()[0]
    assert [r[f"e{i}_2"] for i in range(1, 8)] == [
        3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0,
    ]
    assert r["bowley"] == 0.0 and r["moors"] == 1.0
    df = spark.createDataFrame(
        [(v,) for v in (1, 2, 3, 4, 5, 6, 7, 100)], "x long"
    )
    r = robust_shape_cells(df, "x").collect()[0]
    assert r["e7_2"] == 107.0
    assert r["bowley"] == 0.0
    assert r["moors"] == ((107.0 - 11.0) + (7.0 - 3.0)) / (13.0 - 5.0)


def test_robust_shape_constant_series_null_ratios(spark):
    from npm_mirror_spark.operators.stats import robust_shape_cells

    df = spark.createDataFrame([(7,)] * 10, "x long")
    r = robust_shape_cells(df, "x").collect()[0]
    assert r["e1_2"] == 14.0 and r["e7_2"] == 14.0
    assert r["bowley"] is None and r["moors"] is None


def test_tukey_fences_hand_examples(spark):
    from npm_mirror_spark.operators.stats import tukey_fence_cells

    df = spark.createDataFrame([(v,) for v in (1, 2, 3, 4, 100)], "x long")
    r = tukey_fence_cells(df, "x").collect()[0]
    assert (r["q1_2"], r["med2"], r["q3_2"]) == (4.0, 6.0, 8.0)
    assert (r["lo_fence_x4"], r["hi_fence_x4"]) == (-4.0, 28.0)
    assert (r["n_low_out"], r["n_high_out"]) == (0, 1)
    assert r["out_rate"] == 1.0 / 5.0
    df = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "x long")
    r = tukey_fence_cells(df, "x").collect()[0]
    assert (r["q1_2"], r["med2"], r["q3_2"]) == (3.0, 5.0, 7.0)
    assert (r["n_low_out"], r["n_high_out"]) == (0, 0)


def test_trimmed_cells_hand_example(spark):
    """A = [1..5], 20% trim -> g=1: trimmed [2,3,4], winsorized
    [2,2,3,4,4]; B = [10,20,30] -> g=0: untouched."""
    from npm_mirror_spark.operators.stats import trimmed_cells

    rows = [(v, True) for v in (1, 2, 3, 4, 5)]
    rows += [(v, False) for v in (10, 20, 30)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    out = {
        r["in_a"]: r
        for r in trimmed_cells(df, "v", F.col("a")).collect()
    }
    ra = out[True]
    assert (ra["n_i"], ra["g_trim"], ra["trim_n"]) == (5, 1, 3)
    assert (ra["trim_sum"], ra["win_sum"], ra["win_sumsq"]) == (
        9.0, 15.0, 49.0,
    )
    assert ra["trim_mean"] == 3.0
    rb = out[False]
    assert (rb["g_trim"], rb["trim_sum"], rb["win_sum"]) == (0, 60.0, 60.0)


def test_trimmed_cells_tie_spanning_cut(spark):
    """[1,1,1,1,5] with g=1: the trim cut falls INSIDE the tied run of
    1s — overlap arithmetic must take exactly 3 of the 4 ones."""
    from npm_mirror_spark.operators.stats import trimmed_cells

    rows = [(v, True) for v in (1, 1, 1, 1, 5)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    r = trimmed_cells(df, "v", F.col("a")).collect()[0]
    assert (r["g_trim"], r["trim_n"]) == (1, 3)
    # ranks [2,4] -> values 1,1,1 (ranks 2,3,4)
    assert r["trim_sum"] == 3.0
    # v_(2) = 1, v_(4) = 1 -> winsorized [1,1,1,1,1]... wait v_(n-g)=v_(4)=1
    assert r["win_sum"] == 3.0 + 1.0 * (1.0 + 1.0)


def test_aligned_ranks_hand_example(spark):
    """b1: t1=1, t2=3; b2: t1=2, t2=10: aligned (-2,2,-8,8) -> mr2
    (4,6,2,8); R_t1_x2 = 6, R_t2_x2 = 14; A_x4 = 120, B-sq = 200."""
    from npm_mirror_spark.operators.stats import aligned_ranks_cells

    rows = [("b1", "t1", 1), ("b1", "t2", 3),
            ("b2", "t1", 2), ("b2", "t2", 10)]
    df = spark.createDataFrame(rows, "b string, t string, v long")
    out = {r["t"]: r for r in aligned_ranks_cells(df, "b", "t", "v").collect()}
    assert out["t1"]["r_x2"] == 6.0 and out["t2"]["r_x2"] == 14.0
    for r in out.values():
        assert (r["n_blocks"], r["k_treatments"]) == (2, 2)
        assert r["total_sq_x4"] == 120.0
        assert r["block_sq_sum_x4"] == 200.0


def test_aligned_ranks_drops_incomplete_blocks(spark):
    from npm_mirror_spark.operators.stats import aligned_ranks_cells

    rows = [("b1", "t1", 1), ("b1", "t2", 3),
            ("b2", "t1", 2), ("b2", "t2", 10),
            ("b3", "t1", 9)]
    df = spark.createDataFrame(rows, "b string, t string, v long")
    out = {r["t"]: r for r in aligned_ranks_cells(df, "b", "t", "v").collect()}
    assert out["t1"]["n_blocks"] == 2  # b3 dropped
    assert out["t1"]["r_x2"] == 6.0


def test_r16_staged_faces_driver_hashable_types(spark, sf_dir):
    """The staged r16 batch emits no decimal/array/map output column."""
    from tests.oracle_harness import unhashable_columns

    batch = [
        "q_cronbach", "q_gwet_ac1", "q_tau_partial", "q_aligned_ranks",
        "q_yuen_trim", "q_robust_shape", "q_tukey_fences", "q_footrule",
    ]
    assert unhashable_columns(spark, sf_dir, batch) == []


def test_ordinal_assoc_weighted_equals_raw(spark):
    """Weighted mode over a pre-collapsed grid must reproduce the
    raw-row output column-for-column (the partial_tau 100TB path)."""
    from npm_mirror_spark.operators.checks import ordinal_assoc_cells

    rows = [(1, 1)] * 3 + [(1, 2)] * 2 + [(2, 1)] + [(2, 2)] * 4
    raw = spark.createDataFrame(rows, "x long, y long")
    grid = raw.groupBy("x", "y").agg(F.count(F.lit(1)).alias("w"))
    a = ordinal_assoc_cells(raw, "x", "y").collect()[0]
    b = ordinal_assoc_cells(grid, "x", "y", weight="w").collect()[0]
    assert tuple(a) == tuple(b)


# ------------------------------- q_ndcg / shift function


def test_ndcg_bounds_and_perfect_prefix(spark, sf_dir):
    """Structure: every ndcg in [0, 1]; a probe whose IVF list equals
    the exact list position-for-position scores exactly 1.0; rel
    columns only take values {0, 1, 2, 3}."""
    from npm_mirror_spark.faces.corpus import q_ndcg

    rows = q_ndcg(spark, sf_dir).collect()
    assert rows, "no probes"
    for r in rows:
        assert 0.0 <= r["ndcg"] <= 1.0
        for i in (1, 2, 3):
            assert r[f"rel{i}"] in (0, 1, 2, 3)
        if (r["rel1"], r["rel2"], r["rel3"]) == (3, 2, 1):
            assert r["ndcg"] == 1.0


def test_shift_function_hand_example(spark):
    """A = [1..8], B = A + 10 except the top octile stretched: the
    shift function is flat (-20) through e6 and wider at e7."""
    from npm_mirror_spark.operators.stats import shift_function_cells

    a = [(v, True) for v in range(1, 9)]
    b = [(v + 10, False) for v in range(1, 8)] + [(100, False)]
    df = spark.createDataFrame(a + b, "v long, a boolean")
    rows = {r["octile"]: r for r in
            shift_function_cells(df, "v", F.col("a")).collect()}
    assert len(rows) == 7
    # octiles of 1..8: e_i_2 = 2i+1; of B: +20 through e6, e7 = 17+100
    for i in range(1, 7):
        assert rows[i]["qa_2"] == 2 * i + 1.0
        assert rows[i]["diff_x2"] == -20.0
    assert rows[7]["qb_2"] == 117.0
    assert rows[7]["diff_x2"] == 15.0 - 117.0


def test_shift_function_empty_group_nulls(spark):
    from npm_mirror_spark.operators.stats import shift_function_cells

    df = spark.createDataFrame([(v, True) for v in (1, 2, 3)],
                               "v long, a boolean")
    rows = shift_function_cells(df, "v", F.col("a")).collect()
    assert len(rows) == 7
    assert all(r["qb_2"] is None and r["diff_x2"] is None for r in rows)
    assert rows[3]["qa_2"] == 4.0  # doubled median of 1,2,3
