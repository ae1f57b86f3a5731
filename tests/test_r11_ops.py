"""r11 operator batch: unit tests with hand-computed expectations.  The
faces built on these operators are oracle-checked with every other face
in tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import registration_problems

# the r12 batch of family faces (npm_mirror_spark/faces/)
R12_BATCH = [
    "q_friedman", "q_brown_forsythe", "q_jonckheere", "q_durbin_watson",
    "q_gk_gamma", "q_cochran_q", "q_vocab_coverage", "q_km_events",
    "q_mood_median", "q_vocab_richness", "q_capture_recapture",
]


# ---------------------------------------------------------------- units


def test_friedman_hand_example(spark):
    """3 treatments x 4 complete blocks, classic textbook shape; one
    incomplete block (b5 missing t3) must be dropped whole."""
    from npm_mirror_spark.operators.stats import friedman_cells

    rows = [
        # block, treatment, value   (within-block ranks in comments)
        ("b1", "t1", 10), ("b1", "t2", 20), ("b1", "t3", 30),  # 1,2,3
        ("b2", "t1", 15), ("b2", "t2", 25), ("b2", "t3", 35),  # 1,2,3
        ("b3", "t1", 22), ("b3", "t2", 11), ("b3", "t3", 33),  # 2,1,3
        ("b4", "t1", 40), ("b4", "t2", 40), ("b4", "t3", 50),  # 1.5,1.5,3
        ("b5", "t1", 1), ("b5", "t2", 2),  # incomplete: dropped
    ]
    df = spark.createDataFrame(rows, "b string, t string, x long")
    out = {r["t"]: r for r in friedman_cells(df, "b", "t", "x").collect()}
    assert set(out) == {"t1", "t2", "t3"}
    # doubled rank sums: t1 = 2+2+4+3 = 11 -> x2 = 2*(1+1+2+1.5)=11
    assert out["t1"]["rank_sum_x2"] == 11.0
    assert out["t2"]["rank_sum_x2"] == 13.0
    assert out["t3"]["rank_sum_x2"] == 24.0
    for r in out.values():
        assert r["n_blocks"] == 4 and r["k_treatments"] == 3
        # dev = r2 - n*(k+1) = r2 - 16
    assert out["t3"]["chi2_term_x4"] == (24 - 16) ** 2


def test_brown_forsythe_hand_example(spark):
    from npm_mirror_spark.operators.stats import brown_forsythe_cells

    # group a: 1,3,5 -> median 3, z2 = |2x-6| = 4,0,4
    # group b: 2,2,10,10 -> med2 = 2+10 = 12, z2 = |2x-12| = 8,8,8,8
    rows = [("a", 1), ("a", 3), ("a", 5), ("b", 2), ("b", 2), ("b", 10), ("b", 10)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r["g"]: r for r in brown_forsythe_cells(df, "x", "g").collect()}
    assert out["a"]["sum_i"] == 8.0 and out["a"]["n_i"] == 3
    assert out["b"]["sum_i"] == 32.0 and out["b"]["n_i"] == 4
    # group b deviations are constant -> within_ss contribution 0
    assert out["b"]["within_ss"] == 0.0


def test_jonckheere_hand_example(spark):
    from npm_mirror_spark.operators.stats import jonckheere_cells

    # g1: 1,2  g2: 3,4 -> all 4 cross pairs concordant: U=4, u_x2=8
    rows = [(1, 1), (1, 2), (2, 3), (2, 4)]
    df = spark.createDataFrame(rows, "g int, x long")
    out = jonckheere_cells(df, "x", "g").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["g_lo"], r["g_hi"], r["n_lo"], r["n_hi"]) == (1, 2, 2, 2)
    assert r["u_x2"] == 8.0


def test_jonckheere_ties_midrank(spark):
    from npm_mirror_spark.operators.stats import jonckheere_cells

    # g1: [5], g2: [5] -> tie: U = 0.5, u_x2 = 1
    df = spark.createDataFrame([(1, 5), (2, 5)], "g int, x long")
    assert jonckheere_cells(df, "x", "g").collect()[0]["u_x2"] == 1.0


def test_durbin_watson_hand_example(spark):
    from npm_mirror_spark.operators.stats import durbin_watson_by

    # series 1,2,3,4: mean 2.5; ne = 4x-10 = -6,-2,2,6
    # num = sum diffs^2 = 16+16+16 = 48; den = 36+4+4+36 = 80
    rows = [("a", 1, 1), ("a", 2, 2), ("a", 3, 3), ("a", 4, 4)]
    df = spark.createDataFrame(rows, "g string, o int, x long")
    r = durbin_watson_by(df, "g", "o", "x").collect()[0]
    assert (r["num"], r["den"]) == (48.0, 80.0)
    assert r["dw"] == 48.0 / 80.0


def test_durbin_watson_constant_series_null(spark):
    from npm_mirror_spark.operators.stats import durbin_watson_by

    df = spark.createDataFrame(
        [("a", 1, 7), ("a", 2, 7)], "g string, o int, x long"
    )
    assert durbin_watson_by(df, "g", "o", "x").collect()[0]["dw"] is None


def test_gk_gamma_hand_example(spark):
    from npm_mirror_spark.operators.checks import gk_gamma

    # perfect positive ordinal association
    rows = [(1, 1), (2, 2), (3, 3)]
    df = spark.createDataFrame(rows, "x int, y int")
    r = gk_gamma(df, "x", "y").collect()[0]
    assert (r["concordant"], r["discordant"], r["gamma"]) == (3.0, 0.0, 1.0)


def test_gk_gamma_all_tied_null(spark):
    from npm_mirror_spark.operators.checks import gk_gamma

    df = spark.createDataFrame([(1, 5), (2, 5)], "x int, y int")
    r = gk_gamma(df, "x", "y").collect()[0]
    assert r["gamma"] is None and r["concordant"] == 0.0


def test_cochran_q_hand_example(spark):
    from npm_mirror_spark.operators.checks import cochran_q_cells

    # 3 treatments x 3 blocks, block rows (1,1,0),(1,0,0),(1,1,1)
    rows = [
        ("b1", "t1", 1), ("b1", "t2", 1), ("b1", "t3", 0),
        ("b2", "t1", 1), ("b2", "t2", 0), ("b2", "t3", 0),
        ("b3", "t1", 1), ("b3", "t2", 1), ("b3", "t3", 1),
    ]
    df = spark.createDataFrame(rows, "b string, t string, s int")
    out = {r["t"]: r for r in cochran_q_cells(df, "b", "t", "s").collect()}
    # T = (3,2,1), G=6, sum T^2 = 14; B = (2,1,3), sum B=6, sum B^2=14
    # Q = 2*(3*14-36)/(3*6-14) = 2*6/4 = 3
    assert out["t1"]["t_j"] == 3.0
    assert all(r["q_stat"] == 3.0 for r in out.values())
    assert out["t1"]["n_blocks"] == 3 and out["t1"]["k_treatments"] == 3


def test_cochran_q_incomplete_block_dropped(spark):
    from npm_mirror_spark.operators.checks import cochran_q_cells

    rows = [
        ("b1", "t1", 1), ("b1", "t2", 0),
        ("b2", "t1", 1),  # incomplete
    ]
    df = spark.createDataFrame(rows, "b string, t string, s int")
    out = cochran_q_cells(df, "b", "t", "s").collect()
    assert all(r["n_blocks"] == 1 for r in out)


def test_vocab_coverage_hand_example(spark):
    from npm_mirror_spark.operators.text import vocab_coverage

    # corpus: "a a a a b b c d" -> counts a=4, b=2, c=1, d=1
    # classes desc: c=4 (1 type, mass 4), c=2 (1 type, mass 2),
    # c=1 (2 types, mass 2); total mass 8
    df = spark.createDataFrame([("a a a a b b c d",)], "text string")
    out = {
        (r["p_num"], r["p_den"]): r
        for r in vocab_coverage(df, "text", ((50, 100), (75, 100), (100, 100))).collect()
    }
    assert out[(50, 100)]["k_types"] == 1 and out[(50, 100)]["covered_mass"] == 4.0
    assert out[(75, 100)]["k_types"] == 2 and out[(75, 100)]["covered_mass"] == 6.0
    assert out[(100, 100)]["k_types"] == 4
    assert out[(50, 100)]["total_mass"] == 8.0


def test_km_cells_hand_example(spark):
    from npm_mirror_spark.operators.temporal import km_cells

    # one group: durations 1(ev),1(cens),2(ev),3(ev)
    rows = [("g", 1, 1), ("g", 1, 0), ("g", 2, 1), ("g", 3, 1)]
    df = spark.createDataFrame(rows, "g string, t int, e int")
    out = {r["t"]: r for r in km_cells(df, "g", "t", "e").collect()}
    assert (out[1]["n_risk"], out[1]["d"], out[1]["c"]) == (4, 1, 1)
    assert (out[2]["n_risk"], out[2]["d"], out[2]["c"]) == (2, 1, 0)
    assert (out[3]["n_risk"], out[3]["d"], out[3]["c"]) == (1, 1, 0)


# --------------------------------------------------- registration check


def test_r12_batch_is_registered_with_oracles():
    """Every face in the r12 batch is in the registry as its family-table
    callable with its oracle, including the capture-recapture oracle that
    nests a registered face's SQL (parity itself runs in
    test_oracle_parity.py)."""
    assert registration_problems(R12_BATCH) == []


def test_mood_median_hand_example(spark):
    from npm_mirror_spark.operators.stats import mood_median_cells

    # values 1..6: med2 = 3+4 = 7; above = {4,5,6}, below = {1,2,3}
    rows = [("a", 1), ("a", 2), ("a", 4), ("b", 3), ("b", 5), ("b", 6)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r["g"]: r for r in mood_median_cells(df, "x", "g").collect()}
    assert (out["a"]["n_above"], out["a"]["n_below"], out["a"]["n_at"]) == (1, 2, 0)
    assert (out["b"]["n_above"], out["b"]["n_below"]) == (2, 1)
    assert out["a"]["med2_x"] == 7.0


def test_mood_median_at_median_rows_counted(spark):
    from npm_mirror_spark.operators.stats import mood_median_cells

    # odd n: 1,2,3 -> med2 = 4; the value 2 sits AT the median
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3)], "g string, x long"
    )
    r = mood_median_cells(df, "x", "g").collect()[0]
    assert (r["n_above"], r["n_below"], r["n_at"]) == (1, 1, 1)


def test_vocab_richness_hand_example(spark):
    from npm_mirror_spark.operators.text import vocab_richness

    # counts: a=3, b=2, c=1, d=1 -> s_obs=4, N=7, f1=2, f2=1
    # chao1 = 4 + 2*1/(2*2) = 4.5 ; p0 = 2/7
    df = spark.createDataFrame([("a a a b b c d",)], "text string")
    r = vocab_richness(df, "text").collect()[0]
    assert (r["s_obs"], r["n_tokens"], r["f1"], r["f2"]) == (4, 7.0, 2, 1)
    assert r["chao1"] == 4.0 + (2.0 * 1.0) / (2.0 * 2.0)
    assert r["gt_p0"] == 2.0 / 7.0


def test_capture_recapture_hand_example(spark):
    from npm_mirror_spark.operators.checks import capture_recapture

    # A sees pairs {1-2, 1-3, 2-3}; B sees {1-2, 4-5}; overlap = 1
    # chapman = 4*3/2 - 1 = 5
    a = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a int, id_b int")
    b = spark.createDataFrame([(1, 2), (4, 5)], "id_a int, id_b int")
    r = capture_recapture(a, b).collect()[0]
    assert (r["n_a"], r["n_b"], r["overlap"]) == (3, 2, 1)
    assert r["chapman_est"] == (4.0 * 3.0) / 2.0 - 1.0


def test_capture_recapture_disjoint_total(spark):
    from npm_mirror_spark.operators.checks import capture_recapture

    a = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    b = spark.createDataFrame([(3, 4)], "id_a int, id_b int")
    r = capture_recapture(a, b).collect()[0]
    assert r["overlap"] == 0 and r["chapman_est"] == 3.0


def test_cochran_q_rejects_non_binary(spark):
    from npm_mirror_spark.operators.checks import cochran_q_cells

    df = spark.createDataFrame(
        [("b1", "t1", 2), ("b1", "t2", 0)], "b string, t string, s int"
    )
    with pytest.raises(Exception, match="must be 0/1"):
        cochran_q_cells(df, "b", "t", "s").collect()


def test_km_cells_rejects_non_binary(spark):
    from npm_mirror_spark.operators.temporal import km_cells

    df = spark.createDataFrame([("g", 1, 3)], "g string, t int, e int")
    with pytest.raises(Exception, match="must be 0/1"):
        km_cells(df, "g", "t", "e").collect()


def test_vocab_coverage_rejects_bad_threshold(spark):
    from npm_mirror_spark.operators.text import vocab_coverage

    df = spark.createDataFrame([("a b",)], "text string")
    for bad in ((101, 100), (0, 100), (1, 0)):
        with pytest.raises(ValueError, match="outside"):
            vocab_coverage(df, "text", (bad,))


def test_capture_recapture_canonicalizes_orientation(spark):
    from npm_mirror_spark.operators.checks import capture_recapture

    # same pair, opposite orientations: must still overlap
    a = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    b = spark.createDataFrame([(2, 1)], "id_a int, id_b int")
    r = capture_recapture(a, b).collect()[0]
    assert (r["n_a"], r["n_b"], r["overlap"]) == (1, 1, 1)


def test_friedman_non_integer_values_rank_correctly(spark):
    """Review finding: the old RANGE(-1) prior frame miscounted for
    non-integer-spaced values (2.5 is not <= 3.0 - 1); the collapse
    form must rank doubles correctly."""
    from npm_mirror_spark.operators.stats import friedman_cells

    rows = [
        ("b1", "t1", 2.5), ("b1", "t2", 3.0), ("b1", "t3", 1.0),  # 2,3,1
        ("b2", "t1", 0.5), ("b2", "t2", 0.25), ("b2", "t3", 0.75),  # 2,1,3
    ]
    df = spark.createDataFrame(rows, "b string, t string, x double")
    out = {r["t"]: r for r in friedman_cells(df, "b", "t", "x").collect()}
    assert out["t1"]["rank_sum_x2"] == float(2 * (2 + 2))
    assert out["t2"]["rank_sum_x2"] == float(2 * (3 + 1))
    assert out["t3"]["rank_sum_x2"] == float(2 * (1 + 3))


def test_cochran_q_rejects_fractional_success(spark):
    """Review finding: 0.9 used to truncate to 0 and bypass the guard."""
    from npm_mirror_spark.operators.checks import cochran_q_cells

    df = spark.createDataFrame(
        [("b1", "t1", 0.9), ("b1", "t2", 0.0)], "b string, t string, s double"
    )
    with pytest.raises(Exception, match="must be 0/1"):
        cochran_q_cells(df, "b", "t", "s").collect()


def test_km_cells_rejects_fractional_event(spark):
    from npm_mirror_spark.operators.temporal import km_cells

    df = spark.createDataFrame([("g", 1, 0.5)], "g string, t int, e double")
    with pytest.raises(Exception, match="must be 0/1"):
        km_cells(df, "g", "t", "e").collect()


def test_capture_recapture_null_ids_excluded(spark):
    """Review finding: least/greatest skip NULLs, so (NULL, 5) used to
    collapse to the degenerate pair (5, 5)."""
    from npm_mirror_spark.operators.checks import capture_recapture

    a = spark.createDataFrame([(None, 5), (1, 2)], "id_a int, id_b int")
    b = spark.createDataFrame([(5, 5)], "id_a int, id_b int")
    r = capture_recapture(a, b).collect()[0]
    assert (r["n_a"], r["n_b"], r["overlap"]) == (1, 1, 0)


def test_logrank_cells_hand_example(spark):
    """Two arms, classic small table: A = {1(ev), 3(ev)},
    B = {2(ev), 3(cens)}; event times 1, 2, 3."""
    from npm_mirror_spark.operators.temporal import logrank_cells

    rows = [
        ("g", 1, 1, 1), ("g", 3, 1, 1),  # arm A
        ("g", 2, 1, 0), ("g", 3, 0, 0),  # arm B
    ]
    df = spark.createDataFrame(rows, "g string, t int, e int, arm_a int")
    out = {
        r["t"]: r
        for r in logrank_cells(df, "g", "t", "e", F.col("arm_a") == 1).collect()
    }
    # t=1: n=4, d=1, n_a=2, d_a=1 -> O-E = 1 - 2*1/4 = 0.5
    assert (out[1]["n"], out[1]["d"], out[1]["n_a"], out[1]["d_a"]) == (4, 1, 2, 1)
    assert out[1]["o_minus_e_a"] == 1.0 - 2.0 * 1.0 / 4.0
    # var = 1 * (2/4)*(1-2/4)*(4-1)/(4-1) = 0.25
    assert out[1]["var_term"] == 1.0 * 0.5 * 0.5 * 3.0 / 3.0
    # t=2: n=3, d=1, n_a=1, d_a=0 -> O-E = 0 - 1/3
    assert (out[2]["n"], out[2]["d"], out[2]["n_a"], out[2]["d_a"]) == (3, 1, 1, 0)
    assert out[2]["o_minus_e_a"] == 0.0 - 1.0 * 1.0 / 3.0
    # t=3: n=2, d=1 (the censored B row is at risk but adds no event)
    assert (out[3]["n"], out[3]["d"], out[3]["n_a"], out[3]["d_a"]) == (2, 1, 1, 1)


def test_logrank_cells_identical_arms_zero(spark):
    """When in_a marks nothing, every O-E is the negative expectation
    of arm-A events — with n_a = 0, O-E = 0 and var = 0."""
    from npm_mirror_spark.operators.temporal import logrank_cells

    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1)], "g string, t int, e int"
    )
    out = logrank_cells(df, "g", "t", "e", F.lit(False)).collect()
    assert all(r["o_minus_e_a"] == 0.0 and r["n_a"] == 0 for r in out)


def test_logrank_cells_null_predicate_is_arm_b(spark):
    from npm_mirror_spark.operators.temporal import logrank_cells

    df = spark.createDataFrame(
        [("g", 1, 1, None), ("g", 1, 1, 1)], "g string, t int, e int, f int"
    )
    r = logrank_cells(df, "g", "t", "e", F.col("f") == 1).collect()[0]
    assert (r["n"], r["n_a"]) == (2, 1)


def test_mantel_haenszel_hand_example(spark):
    """Textbook two-stratum table; the per-stratum MH terms feed the
    classic OR_MH derivation."""
    from npm_mirror_spark.operators.checks import mantel_haenszel_cells

    rows = (
        # stratum 1: a=3 b=1 c=1 d=3 (strong positive)
        [("s1", 1, 1)] * 3 + [("s1", 1, 0)] * 1
        + [("s1", 0, 1)] * 1 + [("s1", 0, 0)] * 3
        # stratum 2: a=1 b=2 c=2 d=1 (negative)
        + [("s2", 1, 1)] * 1 + [("s2", 1, 0)] * 2
        + [("s2", 0, 1)] * 2 + [("s2", 0, 0)] * 1
    )
    df = spark.createDataFrame(rows, "s string, x int, y int")
    out = {
        r["s"]: r
        for r in mantel_haenszel_cells(
            df, "s", F.col("x") == 1, F.col("y") == 1
        ).collect()
    }
    r1 = out["s1"]
    assert (r1["a"], r1["b"], r1["c"], r1["d"], r1["n"]) == (3, 1, 1, 3, 8)
    assert r1["mh_num"] == 3.0 * 3.0 / 8.0
    assert r1["mh_den"] == 1.0 * 1.0 / 8.0
    r2 = out["s2"]
    assert (r2["a"], r2["b"], r2["c"], r2["d"], r2["n"]) == (1, 2, 2, 1, 6)
    # OR_MH one-liner over the cells
    or_mh = (r1["mh_num"] + r2["mh_num"]) / (r1["mh_den"] + r2["mh_den"])
    assert or_mh == (9.0 / 8.0 + 1.0 / 6.0) / (1.0 / 8.0 + 4.0 / 6.0)


def test_mantel_haenszel_null_predicates_false(spark):
    from npm_mirror_spark.operators.checks import mantel_haenszel_cells

    df = spark.createDataFrame(
        [("s", None, 1), ("s", 1, None)], "s string, x int, y int"
    )
    r = mantel_haenszel_cells(
        df, "s", F.col("x") == 1, F.col("y") == 1
    ).collect()[0]
    # (NULL, 1) -> not exposed & outcome = c; (1, NULL) -> exposed only = b
    assert (r["a"], r["b"], r["c"], r["d"]) == (0, 1, 1, 0)
