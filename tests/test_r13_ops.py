"""r13 operator batch: unit tests with hand-computed expectations, plus
the r14 batch of family faces checked as a batch: oracle parity,
registration, plan shape and driver-hashable output types."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from npm_mirror_spark.registry import resolve_face
from tests.oracle_harness import (
    compare,
    duckdb_con,
    plan_problems,
    registration_problems,
    unhashable_columns,
)

# the r14 batch of family faces (npm_mirror_spark/faces/)
R14_BATCH = [
    "q_somers_d", "q_tau_c", "q_fleiss_kappa", "q_weighted_kappa",
    "q_bowker", "q_signed_rank", "q_cvm2", "q_cox_stuart", "q_seasonal_mk",
    "q_buishand", "q_nelson_aalen", "q_gehan", "q_yule_k",
]


# ------------------------------------------------------- oracle parity


@pytest.mark.parametrize("name", sorted(R14_BATCH))
def test_staged_face_matches_oracle(spark, sf_dir, name):
    """Every r14 face clears the registry harness bar (rows + schema +
    canonical values vs DuckDB) and returns at least one row."""
    face, sql = resolve_face(name)
    df = face(spark, sf_dir)
    problems = compare(df, duckdb_con(sf_dir), sql)
    assert not problems, f"{name}: {problems}"
    assert df.count() > 0, f"{name} returned no rows"


def test_r14_batch_is_registered_with_oracles():
    """The r14 batch is in the registry as its family-table callables
    with their oracles."""
    assert registration_problems(R14_BATCH) == []


def test_staged_faces_plan_lint(spark, sf_dir):
    """No cartesian products in the r14 batch; BNLJ only in faces on
    ALLOWED_BNLJ."""
    assert plan_problems(spark, sf_dir, R14_BATCH) == []


def test_staged_faces_driver_hashable_types(spark, sf_dir):
    """No decimal/array/map output columns (the r9 driver-red lesson)."""
    assert unhashable_columns(spark, sf_dir, R14_BATCH) == []


# --------------------------------------------- ordinal_assoc_cells


def _assoc(spark, rows):
    from npm_mirror_spark.operators.checks import ordinal_assoc_cells

    df = spark.createDataFrame(rows, "x long, y long")
    return ordinal_assoc_cells(df, "x", "y").collect()[0]


def test_ordinal_assoc_hand_example(spark):
    """2x2 grid with counts [[3,1],[1,3]]: C = 3*3 = 9, D = 1*1 = 1,
    ties: per-axis margins 4/4 -> Tx = Ty = 12, both-tied = 3+3 = 6,
    so tied-only = 6 each; gamma = 8/10, Somers' D = 8/16, tau_b =
    8/sqrt(16*16) = 0.5, m = 2 -> tau_c = 2*2*8/(64*1) = 0.5."""
    r = _assoc(spark, [(1, 1)] * 3 + [(1, 2)] + [(2, 1)] + [(2, 2)] * 3)
    assert (r["concordant"], r["discordant"]) == (9.0, 1.0)
    assert (r["tied_x_only"], r["tied_y_only"], r["tied_xy"]) == (6.0, 6.0, 6.0)
    assert r["gamma"] == 0.8
    assert r["somers_dyx"] == 0.5 and r["somers_dxy"] == 0.5
    assert r["tau_b"] == 0.5 and r["tau_c"] == 0.5


def test_ordinal_assoc_pair_identity_random(spark):
    """C + D + tied_x_only + tied_y_only + tied_xy = n(n-1)/2, and
    gamma agrees with the registered gk_gamma operator on the same
    data."""
    import random

    from npm_mirror_spark.operators.checks import gk_gamma

    rng = random.Random(13)
    rows = [(rng.randint(0, 5), rng.randint(0, 3)) for _ in range(400)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = _assoc(spark, rows)
    n = r["n_rows"]
    total = (
        r["concordant"]
        + r["discordant"]
        + r["tied_x_only"]
        + r["tied_y_only"]
        + r["tied_xy"]
    )
    assert total == n * (n - 1) / 2 == r["pairs_total"]
    g = gk_gamma(df, "x", "y").collect()[0]
    assert g["gamma"] == r["gamma"]
    assert (g["concordant"], g["discordant"]) == (
        r["concordant"],
        r["discordant"],
    )


def test_ordinal_assoc_perfect_monotone(spark):
    """A strictly increasing tie-free pairing has every coefficient 1
    except tau_c's rectangular correction (square here, so 1 too)."""
    r = _assoc(spark, [(i, i) for i in range(6)])
    assert r["gamma"] == 1.0 and r["tau_b"] == 1.0
    assert r["somers_dyx"] == 1.0 and r["somers_dxy"] == 1.0
    assert r["tau_c"] == pytest.approx(2 * 6 * 15 / (36 * 5))


# --------------------------------------------------- fleiss kappa


def test_fleiss_hand_example(spark):
    """2 subjects x 3 raters: s1 unanimous A, s2 = 2A+1B.
    Q = 9 + 5 = 14, t = 6, S = 5^2 + 1^2 = 26:
    P_bar = (14-6)/(6*2) = 2/3, P_e = 26/36 = 13/18,
    kappa = (2/3 - 13/18)/(1 - 13/18) = -0.2."""
    from npm_mirror_spark.operators.checks import fleiss_kappa_cells

    rows = [("s1", "A")] * 3 + [("s2", "A")] * 2 + [("s2", "B")]
    df = spark.createDataFrame(rows, "s string, k string")
    r = fleiss_kappa_cells(df, "s", "k", 3).collect()[0]
    assert (r["q_sum"], r["s_sum"]) == (14.0, 26.0)
    assert r["p_bar"] == pytest.approx(2 / 3)
    assert r["kappa"] == pytest.approx(-0.2)


def test_fleiss_perfect_agreement(spark):
    """Unanimous raters on a 2-category split: kappa = 1."""
    from npm_mirror_spark.operators.checks import fleiss_kappa_cells

    rows = [("s1", "A")] * 3 + [("s2", "B")] * 3
    df = spark.createDataFrame(rows, "s string, k string")
    r = fleiss_kappa_cells(df, "s", "k", 3).collect()[0]
    assert r["kappa"] == 1.0 and r["p_bar"] == 1.0


def test_fleiss_drops_incomplete_subjects(spark):
    """A subject with != n_raters ratings is dropped and counted."""
    from npm_mirror_spark.operators.checks import fleiss_kappa_cells

    rows = [("s1", "A")] * 3 + [("s2", "A")] * 2  # s2 has only 2 ratings
    df = spark.createDataFrame(rows, "s string, k string")
    r = fleiss_kappa_cells(df, "s", "k", 3).collect()[0]
    assert r["n_subjects"] == 1 and r["n_dropped"] == 1


# ------------------------------------------------- weighted kappa


def test_weighted_kappa_hand_example(spark):
    """Ratings (0,0), (1,2), (2,2): D_o = 1; margins rm = {0:1, 1:1,
    2:1}, cm = {0:1, 2:2} -> D_e = 4 + 3 + 2 = 9; kappa_w = 1 - 3/9."""
    from npm_mirror_spark.operators.checks import weighted_kappa_cells

    df = spark.createDataFrame([(0, 0), (1, 2), (2, 2)], "a long, b long")
    r = weighted_kappa_cells(df, "a", "b").collect()[0]
    assert (r["d_o"], r["d_e_num"]) == (1.0, 9.0)
    assert r["kappa_w"] == pytest.approx(2 / 3)


def test_weighted_kappa_identical_raters(spark):
    from npm_mirror_spark.operators.checks import weighted_kappa_cells

    df = spark.createDataFrame([(i % 4, i % 4) for i in range(20)], "a long, b long")
    r = weighted_kappa_cells(df, "a", "b").collect()[0]
    assert r["d_o"] == 0.0 and r["kappa_w"] == 1.0


# ------------------------------------------------------- bowker


def test_bowker_hand_example(spark):
    """Transitions (1->2) x3, (2->1) x1, (1->3) x2: pair {1,2} has
    counts (3,1) -> chi = 4/4 = 1; pair {1,3} has (2,0) -> chi = 2."""
    from npm_mirror_spark.operators.checks import bowker_cells

    rows = [(1, 2)] * 3 + [(2, 1)] + [(1, 3)] * 2
    df = spark.createDataFrame(rows, "a long, b long")
    out = [
        (r["cat_lo"], r["cat_hi"], r["n_lo_hi"], r["n_hi_lo"], r["chi_term"])
        for r in bowker_cells(df, "a", "b").collect()
    ]
    assert out == [(1, 2, 3, 1, 1.0), (1, 3, 2, 0, 2.0)]


def test_bowker_symmetric_data_zero_terms(spark):
    from npm_mirror_spark.operators.checks import bowker_cells

    rows = [(1, 2)] * 4 + [(2, 1)] * 4 + [(1, 1)] * 3
    df = spark.createDataFrame(rows, "a long, b long")
    out = bowker_cells(df, "a", "b").collect()
    assert len(out) == 1 and out[0]["chi_term"] == 0.0


# -------------------------------------------------- signed rank


def test_signed_rank_hand_example(spark):
    """Diffs [1, -1, 2, 2, 0]: one zero dropped; |d| midranks (x2):
    |1| -> 3 (two tied at ranks 1-2), |2| -> 7 (ranks 3-4).
    W+x2 = 3 + 7 + 7 = 17, W-x2 = 3; identity 17 + 3 = 4*5;
    rank-biserial = 14/20 = 0.7."""
    from npm_mirror_spark.operators.stats import signed_rank_cells

    rows = [(2, 1), (1, 2), (3, 1), (5, 3), (4, 4)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = signed_rank_cells(df, "x", "y").collect()[0]
    assert (r["n_pairs"], r["n_zero"], r["n_nonzero"]) == (5, 1, 4)
    assert (r["w_plus_x2"], r["w_minus_x2"]) == (17.0, 3.0)
    assert r["rank_biserial"] == pytest.approx(0.7)


def test_signed_rank_sum_identity_random(spark):
    """W+x2 + W-x2 = n_nonzero * (n_nonzero + 1) on random pairs."""
    import random

    from npm_mirror_spark.operators.stats import signed_rank_cells

    rng = random.Random(17)
    rows = [(rng.randint(0, 20), rng.randint(0, 20)) for _ in range(300)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = signed_rank_cells(df, "x", "y").collect()[0]
    nz = r["n_nonzero"]
    assert r["w_plus_x2"] + r["w_minus_x2"] == nz * (nz + 1)
    assert r["n_pairs"] == 300 and nz == 300 - r["n_zero"]


# --------------------------------------------------------- cvm2


def test_cvm2_hand_example(spark):
    """A = [1,1,2], B = [2,3]: diff_num per value = cum_a*n2 - cum_b*n1
    = [4, 3, 0]; the last value's gap is always 0."""
    from npm_mirror_spark.operators.stats import cvm2_cells

    rows = [(1, True), (1, True), (2, True), (2, False), (3, False)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    out = cvm2_cells(df, "v", F.col("a")).collect()
    assert [(r["v"], r["diff_num"], r["w"]) for r in out] == [
        (1, 4.0, 2),
        (2, 3.0, 2),
        (3, 0.0, 1),
    ]


def test_cvm2_last_gap_zero_and_weights_sum(spark):
    import random

    from npm_mirror_spark.operators.stats import cvm2_cells

    rng = random.Random(23)
    rows = [(rng.randint(0, 30), rng.random() < 0.4) for _ in range(500)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    out = cvm2_cells(df, "v", F.col("a")).collect()
    assert out[-1]["diff_num"] == 0.0
    assert sum(r["w"] for r in out) == 500
    assert out[-1]["cum_a"] + out[-1]["cum_b"] == 500


# --------------------------------------------------- cox-stuart


def test_cox_stuart_hand_examples(spark):
    """Strictly increasing series of 7: 3 pairs, all positive (the
    middle day unpaired); reversing the series swaps pos and neg."""
    from npm_mirror_spark.operators.temporal import cox_stuart_cells

    rows = [(dt.date(2024, 1, i + 1), i + 1) for i in range(7)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = cox_stuart_cells(df, "d", "x").collect()[0]
    assert (r["n_days"], r["n_pairs"], r["n_pos"], r["n_neg"]) == (7, 3, 3, 0)
    rev = [(dt.date(2024, 1, i + 1), 7 - i) for i in range(7)]
    r2 = cox_stuart_cells(
        spark.createDataFrame(rev, "d date, x long"), "d", "x"
    ).collect()[0]
    assert (r2["n_pos"], r2["n_neg"]) == (0, 3)


def test_cox_stuart_even_series_and_ties(spark):
    """n = 4: pairs (1,3) and (2,4); constant series -> all ties."""
    from npm_mirror_spark.operators.temporal import cox_stuart_cells

    rows = [(dt.date(2024, 1, i + 1), 5) for i in range(4)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = cox_stuart_cells(df, "d", "x").collect()[0]
    assert (r["n_pairs"], r["n_tie"], r["pos_share"]) == (2, 2, 0.0)


# ------------------------------------------------- seasonal MK


def test_seasonal_mk_hand_example(spark):
    """Mondays [1,2,3] -> 3 pairs all concordant (S = 3); Tuesdays
    [5,4] -> S = -1.  Spark dayofweek: Monday = 2, Tuesday = 3."""
    from npm_mirror_spark.operators.temporal import seasonal_mk_cells

    rows = [
        (dt.date(2024, 1, 1), 1),
        (dt.date(2024, 1, 8), 2),
        (dt.date(2024, 1, 15), 3),
        (dt.date(2024, 1, 2), 5),
        (dt.date(2024, 1, 9), 4),
    ]
    df = spark.createDataFrame(rows, "d date, x long")
    out = {r["season"]: r for r in seasonal_mk_cells(df, "d", "x").collect()}
    assert out[2]["s_stat"] == 3 and out[2]["n_pairs"] == 3
    assert out[3]["s_stat"] == -1 and out[3]["n_pairs"] == 1


def test_seasonal_mk_pair_counts(spark):
    """Per season, n_pairs = n_days*(n_days-1)/2 and
    conc + disc + ties = n_pairs."""
    import random

    from npm_mirror_spark.operators.temporal import seasonal_mk_cells

    rng = random.Random(5)
    rows = [
        (dt.date(2024, 1, 1) + dt.timedelta(days=i), rng.randint(0, 9))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "d date, x long")
    for r in seasonal_mk_cells(df, "d", "x").collect():
        assert r["n_pairs"] == r["n_days"] * (r["n_days"] - 1) // 2
        assert r["n_concordant"] + r["n_discordant"] + r["n_ties"] == r["n_pairs"]


# ----------------------------------------------------- buishand


def test_buishand_hand_example(spark):
    """x = [1, 1, 4]: P = [1, 2, 6], T = 6, n = 3 ->
    n*S_k = 3*P_k - k*6 = [-3, -6, 0]; the last sum is always 0."""
    from npm_mirror_spark.operators.temporal import buishand_cells

    rows = [
        (dt.date(2024, 1, 1), 1),
        (dt.date(2024, 1, 2), 1),
        (dt.date(2024, 1, 3), 4),
    ]
    df = spark.createDataFrame(rows, "d date, x long")
    out = buishand_cells(df, "d", "x").collect()
    assert [(r["k"], r["n_sk_scaled"]) for r in out] == [
        (1, -3.0),
        (2, -6.0),
        (3, 0.0),
    ]
    assert all(r["total"] == 6 and r["n_days"] == 3 for r in out)


# ------------------------------------------- survival: NA + gehan


def _surv_df(spark):
    import random

    rng = random.Random(29)
    rows = [
        (
            rng.choice(["g1", "g2"]),
            rng.randint(1, 15),
            rng.randint(0, 1),
            rng.random() < 0.5,
        )
        for _ in range(300)
    ]
    return spark.createDataFrame(rows, "g string, t long, e long, a boolean")


def test_nelson_aalen_matches_km_risk_sets(spark):
    """NA rows are exactly km_cells' d > 0 rows, and na_term = d/n."""
    from npm_mirror_spark.operators.temporal import km_cells, nelson_aalen_cells

    df = _surv_df(spark).select("g", "t", "e")
    km = {
        (r["g"], r["t"]): r
        for r in km_cells(df, "g", "t", "e").collect()
        if r["d"] > 0
    }
    na = nelson_aalen_cells(df, "g", "t", "e").collect()
    assert {(r["g"], r["t"]) for r in na} == set(km)
    for r in na:
        k = km[(r["g"], r["t"])]
        assert r["n_risk"] == k["n_risk"] and r["d"] == k["d"]
        assert r["na_term"] == r["d"] / r["n_risk"]


def test_gehan_weights_logrank_exactly(spark):
    """Per event time: w_o_minus_e_a = n * o_minus_e_a and
    w2_var_term = n^2 * var_term against logrank_cells on the same
    data — the n-weighting identity, to float tolerance (gehan's side
    is exact-int, logrank's carries the division)."""
    from npm_mirror_spark.operators.temporal import gehan_cells, logrank_cells

    df = _surv_df(spark)
    lr = {
        (r["prio"], r["t"]): r
        for r in logrank_cells(
            df.withColumnRenamed("g", "prio"), "prio", "t", "e", F.col("a")
        ).collect()
    }
    ge = gehan_cells(
        df.withColumnRenamed("g", "prio"), "prio", "t", "e", F.col("a")
    ).collect()
    assert {(r["prio"], r["t"]) for r in ge} == set(lr)
    for r in ge:
        l = lr[(r["prio"], r["t"])]
        assert r["w_o_minus_e_a"] == pytest.approx(l["n"] * l["o_minus_e_a"])
        assert r["w2_var_term"] == pytest.approx(l["n"] ** 2 * l["var_term"])
        # the weighted O-E is an exact integer
        assert r["w_o_minus_e_a"] == int(r["w_o_minus_e_a"])


def test_gehan_event_guard_raises(spark):
    from npm_mirror_spark.operators.temporal import gehan_cells

    df = spark.createDataFrame(
        [("g", 1, 2, True)], "g string, t long, e long, a boolean"
    )
    with pytest.raises(Exception, match="must be 0/1"):
        gehan_cells(df, "g", "t", "e", F.col("a")).collect()


# ------------------------------------------------------- yule K


def test_yule_k_hand_example(spark):
    """Corpus 'a a b': N = 3, C2 = 5, K = 1e4 * 2/9, Simpson = 1/3,
    Sichel = 1/2 (one doubleton of two types)."""
    from npm_mirror_spark.operators.text import yule_k_cells

    df = spark.createDataFrame([("a a b",)], "text string")
    r = yule_k_cells(df, "text").collect()[0]
    assert (r["n_tokens"], r["s_types"], r["sum_c2"]) == (3, 2, 5.0)
    assert r["yule_k"] == pytest.approx(10000 * 2 / 9)
    assert r["simpson_d"] == pytest.approx(1 / 3)
    assert r["sichel_s"] == 0.5


def test_yule_k_all_distinct_is_zero(spark):
    """A corpus with every token unique has K = 0 and Simpson 0 —
    no repetition mass at all."""
    from npm_mirror_spark.operators.text import yule_k_cells

    df = spark.createDataFrame([("one two three four",)], "text string")
    r = yule_k_cells(df, "text").collect()[0]
    assert r["yule_k"] == 0.0 and r["simpson_d"] == 0.0 and r["f1"] == 4


# ------------------------- r15-seed library operators (faces later)


def test_turning_point_hand_example(spark):
    """[1,3,2,4,4,5]: interior = 4; strict turns at 3 (peak) and 2
    (valley); the two tie-adjacent days disqualify.  E[T] = 2*4/3."""
    from npm_mirror_spark.operators.temporal import turning_point_cells

    rows = [(dt.date(2024, 1, i + 1), x) for i, x in enumerate([1, 3, 2, 4, 4, 5])]
    df = spark.createDataFrame(rows, "d date, x long")
    r = turning_point_cells(df, "d", "x").collect()[0]
    assert (r["n_days"], r["n_interior"], r["n_turning"]) == (6, 4, 2)
    assert r["expected_turning"] == pytest.approx(8 / 3)
    assert r["turning_rate"] == 0.5


def test_turning_point_monotone_has_none(spark):
    from npm_mirror_spark.operators.temporal import turning_point_cells

    rows = [(dt.date(2024, 1, i + 1), i) for i in range(10)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = turning_point_cells(df, "d", "x").collect()[0]
    assert r["n_turning"] == 0 and r["n_interior"] == 8


def test_bartels_rvn_hand_examples(spark):
    """[1,2,3]: doubled ranks (2,4,6) -> nm_x4 = 8, d_x4 = 8, rvn = 1;
    tie case [1,2,2]: midranks (2,5,5) -> nm = 9, d = 6, rvn = 1.5;
    all-tied series -> d = 0 -> rvn NULL."""
    from npm_mirror_spark.operators.temporal import bartels_rvn_cells

    def run(vals):
        rows = [(dt.date(2024, 1, i + 1), x) for i, x in enumerate(vals)]
        df = spark.createDataFrame(rows, "d date, x long")
        return bartels_rvn_cells(df, "d", "x").collect()[0]

    r = run([1, 2, 3])
    assert (r["nm_x4"], r["d_x4"], r["rvn"]) == (8.0, 8.0, 1.0)
    r = run([1, 2, 2])
    assert (r["nm_x4"], r["d_x4"], r["rvn"]) == (9.0, 6.0, 1.5)
    r = run([5, 5, 5])
    assert r["d_x4"] == 0.0 and r["rvn"] is None


def test_bartels_rvn_oscillation_above_trend_below(spark):
    """Oscillating series reads above 2, a trend reads near 0 — the
    directional sanity every independence test gets pinned with."""
    from npm_mirror_spark.operators.temporal import bartels_rvn_cells

    osc = [(dt.date(2024, 1, i + 1), i % 2 * 10) for i in range(20)]
    tr = [(dt.date(2024, 1, i + 1), i) for i in range(20)]
    r_osc = bartels_rvn_cells(
        spark.createDataFrame(osc, "d date, x long"), "d", "x"
    ).collect()[0]
    r_tr = bartels_rvn_cells(
        spark.createDataFrame(tr, "d date, x long"), "d", "x"
    ).collect()[0]
    assert r_osc["rvn"] > 2.0 > r_tr["rvn"]
    # trend on distinct values: nm counts n-1 unit doubled steps
    assert r_tr["nm_x4"] == (20 - 1) * 4


# ------------------------------- kendall_w / icc / outlier cells


def test_kendall_w_hand_examples(spark):
    """Perfect agreement (3 blocks, identical orderings): s_x4 = 72,
    W = 1.  Tie case (one uniform block of k = 3): R2 = (6, 8, 10),
    tie_sum = 24, W = 24/48 = 0.5."""
    from npm_mirror_spark.operators.stats import kendall_w_cells

    rows = [
        (b, t, x)
        for b in ("b1", "b2", "b3")
        for t, x in (("t1", 1), ("t2", 2), ("t3", 3))
    ]
    df = spark.createDataFrame(rows, "b string, t string, x long")
    r = kendall_w_cells(df, "b", "t", "x").collect()[0]
    assert (r["s_x4"], r["tie_sum"], r["w"]) == (72.0, 0.0, 1.0)
    rows2 = [
        ("b1", "t1", 1), ("b1", "t2", 2), ("b1", "t3", 3),
        ("b2", "t1", 5), ("b2", "t2", 5), ("b2", "t3", 5),
    ]
    df2 = spark.createDataFrame(rows2, "b string, t string, x long")
    r = kendall_w_cells(df2, "b", "t", "x").collect()[0]
    assert (r["s_x4"], r["tie_sum"], r["w"]) == (8.0, 24.0, 0.5)


def test_icc_hand_example(spark):
    """Subjects (1,1) and (2,4) with k = 2: SSB = 4 (MSB = 4),
    SSW = 2 (MSW = 1) -> ICC = 3/5; scaled forms ssb_xnk = 16,
    ssw_xk = 4."""
    from npm_mirror_spark.operators.checks import icc_cells

    df = spark.createDataFrame(
        [("s1", 1), ("s1", 1), ("s2", 2), ("s2", 4)], "s string, x long"
    )
    r = icc_cells(df, "s", "x", 2).collect()[0]
    assert (r["ssb_xnk"], r["ssw_xk"], r["icc"]) == (16.0, 4.0, 0.6)
    assert (r["n_subjects"], r["n_dropped"]) == (2, 0)


def test_icc_identical_ratings_is_one(spark):
    from npm_mirror_spark.operators.checks import icc_cells

    rows = [(f"s{i}", i % 4) for i in range(8) for _ in range(3)]
    df = spark.createDataFrame(rows, "s string, x long")
    r = icc_cells(df, "s", "x", 3).collect()[0]
    assert r["ssw_xk"] == 0.0 and r["icc"] == 1.0


def test_dixon_hand_examples(spark):
    from npm_mirror_spark.operators.stats import dixon_q_cells

    def run(vals):
        rows = [(dt.date(2024, 1, i + 1), v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "d date, x long")
        return dixon_q_cells(df, "d", "x").collect()[0]

    r = run([1, 2, 5, 9])
    assert (r["q_low"], r["q_high"]) == (0.125, 0.5)
    assert (r["x_min2"], r["x_max2"]) == (2, 5)
    r = run([1, 1, 5])  # duplicated minimum: zero low gap
    assert r["q_low"] == 0.0 and r["x_min2"] == 1
    r = run([3, 3, 3])  # zero range: NULL ratios
    assert r["q_low"] is None and r["q_high"] is None


def test_grubbs_hand_example(spark):
    """[1, 2, 9]: T = 12, scaled devs (-9, -6, 15) -> the high outlier
    day wins with max_dev_xn = 15, sign +1; sum_sq = 86."""
    from npm_mirror_spark.operators.stats import grubbs_cells

    rows = [
        (dt.date(2024, 1, 1), 1),
        (dt.date(2024, 1, 2), 2),
        (dt.date(2024, 1, 3), 9),
    ]
    df = spark.createDataFrame(rows, "d date, x long")
    r = grubbs_cells(df, "d", "x").collect()[0]
    assert (r["max_dev_xn"], r["at_day"], r["dev_sign"], r["sum_sq"]) == (
        15.0,
        dt.date(2024, 1, 3),
        1,
        86.0,
    )


def test_grubbs_empty_series_matches_oracle_degenerate(spark):
    """Empty input: ONE row with n_days = 0 and every other column
    NULL — the exact degenerate row the DuckDB oracle's LEFT JOIN
    produces (advice r13: the old CROSS JOIN oracle returned zero rows
    while the operator returned one, an oracle-parity divergence)."""
    import duckdb

    from npm_mirror_spark.operators.stats import grubbs_cells

    df = spark.createDataFrame([], "d date, x long")
    rows = grubbs_cells(df, "d", "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] == 0
    assert all(
        r[c] is None
        for c in ("total", "sum_sq", "max_dev_xn", "at_day", "dev_sign")
    )
    # the oracle on an empty events view agrees cell-for-cell
    from npm_mirror_spark.registry import resolve_face

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT CAST(NULL AS TIMESTAMP) AS ts WHERE FALSE")
    orc = con.execute(resolve_face("q_grubbs")[1]).fetchall()
    assert len(orc) == 1
    assert orc[0][0] == 0 and all(v is None for v in orc[0][1:])


def test_grubbs_tie_breaks_to_smallest_day(spark):
    """Symmetric extremes tie on |dev| — the earlier day wins."""
    from npm_mirror_spark.operators.stats import grubbs_cells

    rows = [
        (dt.date(2024, 1, 1), 9),
        (dt.date(2024, 1, 2), 5),
        (dt.date(2024, 1, 3), 1),
    ]
    df = spark.createDataFrame(rows, "d date, x long")
    r = grubbs_cells(df, "d", "x").collect()[0]
    assert r["at_day"] == dt.date(2024, 1, 1) and r["dev_sign"] == 1


def test_rank_scale_hand_example(spark):
    """A = [1, 3], B = [2, 2] (N = 4): doubled midranks (2, 5, 8);
    Wilcoxon r_a_x2 = 2 + 8 = 10; AB doubled scores at the extremes
    are both 2 -> ab_a_x2 = 4; Cucconi u_a_x4 = 4 + 64 = 68 and
    v_a_x4 = 64 + 4 = 68 (symmetric sample)."""
    from npm_mirror_spark.operators.stats import rank_scale_cells

    df = spark.createDataFrame(
        [(1, True), (3, True), (2, False), (2, False)], "v long, a boolean"
    )
    r = rank_scale_cells(df, "v", F.col("a")).collect()[0]
    assert (r["n1"], r["n2"]) == (2, 2)
    assert (r["r_a_x2"], r["ab_a_x2"]) == (10.0, 4.0)
    assert (r["u_a_x4"], r["v_a_x4"]) == (68.0, 68.0)


def test_rank_scale_matches_rank_sum(spark):
    """r_a_x2 must equal rank_sum_test's r1_x2 on the same data — the
    Wilcoxon column is the same statistic through a different fold."""
    import random

    from npm_mirror_spark.operators.stats import rank_scale_cells, rank_sum_test

    rng = random.Random(31)
    rows = [(rng.randint(0, 20), rng.random() < 0.5) for _ in range(300)]
    df = spark.createDataFrame(rows, "v long, a boolean")
    rs = rank_scale_cells(df, "v", F.col("a")).collect()[0]
    ru = rank_sum_test(df, "v", F.col("a")).collect()[0]
    assert rs["r_a_x2"] == float(ru["r1_x2"])
    assert (rs["n1"], rs["n2"]) == (ru["n1"], ru["n2"])


def test_gk_lambda_hand_example(spark):
    """Cells: (a,p)=3, (a,q)=1, (b,q)=4: lambda_yx = (7-5)/(8-5) = 2/3,
    lambda_xy = (7-4)/(8-4) = 3/4."""
    from npm_mirror_spark.operators.checks import gk_lambda

    rows = [("a", "p")] * 3 + [("a", "q")] + [("b", "q")] * 4
    df = spark.createDataFrame(rows, "x string, y string")
    r = gk_lambda(df, "x", "y").collect()[0]
    assert (r["sum_max_y_given_x"], r["max_y_margin"]) == (7, 5)
    assert r["lambda_yx"] == pytest.approx(2 / 3)
    assert r["lambda_xy"] == 0.75


def test_gk_lambda_perfect_and_zero(spark):
    """x determines y exactly -> lambda_yx = 1; independent uniform
    margins where every x has the same modal y -> lambda_yx = 0."""
    from npm_mirror_spark.operators.checks import gk_lambda

    perfect = [("a", "p")] * 3 + [("b", "q")] * 3
    r = gk_lambda(
        spark.createDataFrame(perfect, "x string, y string"), "x", "y"
    ).collect()[0]
    assert r["lambda_yx"] == 1.0
    flat = [("a", "p")] * 2 + [("a", "q")] + [("b", "p")] * 2 + [("b", "q")]
    r = gk_lambda(
        spark.createDataFrame(flat, "x string, y string"), "x", "y"
    ).collect()[0]
    assert r["lambda_yx"] == 0.0
