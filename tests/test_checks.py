"""Data-quality constraint checking (operators/checks.py): exact metric
semantics on crafted data, single-job plan shape, and the degenerate
contracts.  q_quality_checks' value parity is oracle-checked
registry-wide."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from npm_mirror_spark.operators.checks import constraint_report


def _report(df, constraints):
    return {r["name"]: r for r in constraint_report(df, constraints).collect()}


def test_metrics_are_exact_ratios(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "x1", 10.0),
            (2, "a", "x2", 20.0),
            (3, None, "bad", -5.0),
            (4, "b", "x3", 30.0),
        ],
        "id long, cat string, code string, val double",
    )
    got = _report(df, [
        ("cat_complete", "completeness", "cat", 0.9),
        ("id_unique", "uniqueness", "id", 1.0),
        ("cat_unique", "uniqueness", "cat", 1.0),
        ("cat_domain", "in_set", "cat", 1.0, ["a", "b"]),
        ("code_format", "matches", "code", 0.7, "^x[0-9]$"),
        ("val_min", "min_value", "val", 0.0),
        ("val_max", "max_value", "val", 25.0),
    ])
    assert got["cat_complete"]["metric"] == 0.75 and not got["cat_complete"]["ok"]
    assert got["id_unique"]["metric"] == 1.0 and got["id_unique"]["ok"]
    # 3 non-null cats, 2 distinct
    assert got["cat_unique"]["metric"] == 2 / 3 and not got["cat_unique"]["ok"]
    # in_set ignores the NULL row: 3/3 of non-null values allowed
    assert got["cat_domain"]["metric"] == 1.0 and got["cat_domain"]["ok"]
    assert got["code_format"]["metric"] == 0.75 and got["code_format"]["ok"]
    assert got["val_min"]["metric"] == -5.0 and not got["val_min"]["ok"]
    # max_value: ok means metric <= threshold
    assert got["val_max"]["metric"] == 30.0 and not got["val_max"]["ok"]


def test_empty_and_all_null_tables(spark):
    empty = spark.createDataFrame([], "id long, cat string")
    got = _report(empty, [
        ("c", "completeness", "cat", 1.0),
        ("u", "uniqueness", "cat", 1.0),
        ("s", "in_set", "cat", 1.0, ["a"]),
        ("m", "matches", "cat", 1.0, "^a$"),
    ])
    # vacuous truths on no data — a gate must not fail an empty partition
    assert all(got[k]["metric"] == 1.0 and got[k]["ok"] for k in "cusm")
    allnull = spark.createDataFrame([(1, None), (2, None)], "id long, cat string")
    got = _report(allnull, [
        ("c", "completeness", "cat", 0.5),
        ("mn", "min_value", "cat", 0.0),
    ])
    assert got["c"]["metric"] == 0.0 and not got["c"]["ok"]
    # min of nothing: NULL metric, NULL verdict (unknown, not pass/fail)
    assert got["mn"]["metric"] is None and got["mn"]["ok"] is None


def test_single_job_single_scan(spark):
    """All constraints fold into ONE aggregation over ONE scan: the plan
    has exactly one scan node and no Python evaluation; only the
    count_distinct constraints justify an expand."""
    from npm_mirror_spark import plans

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    rep = constraint_report(df, [
        ("a", "completeness", "k", 1.0),
        ("b", "uniqueness", "k", 1.0),
        ("c", "min_value", "id", 0.0),
    ])
    text = plans.explain_str(rep, "simple")
    assert text.count("Scan ") + text.count("Range ") >= 1
    assert text.count("Range") == 1, "constraints must share one scan"
    assert "Python" not in text


def test_unknown_kind_and_empty_list(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="unknown constraint kind"):
        constraint_report(df, [("x", "frobnicate", "id", 1.0)])
    with pytest.raises(ValueError, match="at least one"):
        constraint_report(df, [])


def test_drift_report_flags_planted_shifts(spark):
    """Each verdict fires on exactly the planted shift: nulls on col x,
    mean on col y, distincts on col z; text columns never mean-drift."""
    from npm_mirror_spark.operators.checks import drift_report

    a = spark.createDataFrame(
        [(float(i % 10), 1.0, i % 4, "t") for i in range(100)],
        "x double, y double, z int, s string",
    )
    b = spark.createDataFrame(
        [
            (None if i % 5 == 0 else float(i % 10), 1.2, i % 40, "t")
            for i in range(100)
        ],
        "x double, y double, z int, s string",
    )
    rows = {r["column"]: r for r in drift_report(a, b, ["x", "y", "z", "s"]).collect()}
    assert rows["x"]["null_drift"] and rows["x"]["drifted"]
    assert rows["y"]["mean_drift"] and not rows["y"]["null_drift"]
    assert rows["z"]["distinct_drift"]
    assert not rows["s"]["drifted"]
    assert rows["s"]["mean_a"] is None and rows["s"]["mean_b"] is None
    assert rows["y"]["mean_a"] == 1.0 and abs(rows["y"]["mean_b"] - 1.2) < 1e-9


def test_drift_report_identical_sides_all_green(spark, sf_dir):
    from npm_mirror_spark.operators.checks import drift_report
    from npm_mirror_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    out = drift_report(d, d, ["lang", "source", "n_chars"]).collect()
    assert len(out) == 3
    assert all(not r["drifted"] for r in out)


def test_drift_report_empty_side_is_vacuous_not_nan(spark):
    import math

    from npm_mirror_spark.operators.checks import drift_report

    a = spark.createDataFrame([(1.0,)], "v double")
    b = spark.createDataFrame([], "v double")
    r = drift_report(a, b, ["v"]).first()
    assert r["null_rate_b"] == 0.0 and not math.isnan(r["null_rate_b"])
    assert r["mean_b"] is None
    assert r["n_b"] == 0


def test_grouped_constraint_report_routes_per_group(spark):
    """grouped_constraint_report: per-group metrics match the ungrouped
    report run group by group, group_ok is the conjunction, and the
    route mirrors ValidatedAppend's all-or-nothing verdict."""
    from npm_mirror_spark.operators.checks import (
        constraint_report,
        grouped_constraint_report,
    )

    rows = [
        ("a", 1, "x"), ("a", 2, "y"), ("a", 3, "x"),
        ("b", -5, "x"), ("b", 2, None),
    ]
    df = spark.createDataFrame(rows, "g string, v int, s string")
    spec = [
        ("s_complete", "completeness", "s", 1.0),
        ("v_positive", "min_value", "v", 0.0),
    ]
    got = grouped_constraint_report(df, "g", spec).collect()
    by_group = {}
    for r in got:
        by_group.setdefault(r["g"], []).append(r)
    assert set(by_group) == {"a", "b"}
    for gname, rs in by_group.items():
        single = {
            r["name"]: r
            for r in constraint_report(
                df.where(df.g == gname), spec
            ).collect()
        }
        for r in rs:
            assert r["metric"] == single[r["name"]]["metric"]
            assert r["ok"] == single[r["name"]]["ok"]
        expect_ok = all(r["ok"] for r in rs)
        assert all(r["group_ok"] == expect_ok for r in rs)
        assert all(
            r["route"] == ("main" if expect_ok else "quarantine") for r in rs
        )
    assert all(r["group_ok"] for r in by_group["a"])
    assert not any(r["group_ok"] for r in by_group["b"])

    import pytest

    with pytest.raises(ValueError):
        grouped_constraint_report(df, "g", [])


def test_token_drift_matches_brute_force(spark, sf_dir):
    """q_token_drift's exact-rational TV distance equals the textbook
    float formula computed per-source in one process (stable order), to
    float tolerance — and always lands in [0, 1]."""
    import re
    from collections import Counter

    import pandas as pd

    from npm_mirror_spark.queries import QUERIES
    from npm_mirror_spark.tables import load_table as _t

    got = {r["source"]: r["tv"] for r in QUERIES["q_token_drift"](spark, sf_dir).collect()}
    docs = _t(spark, sf_dir, "documents").select("source", "text").toPandas()
    per, glob = {}, Counter()
    for _, row in docs.iterrows():
        toks = [t for t in re.sub(r"\s+", " ", row["text"].lower()).strip().split(" ") if t]
        per.setdefault(row["source"], Counter()).update(toks)
        glob.update(toks)
    T = sum(glob.values())
    for src, cnt in per.items():
        Ts = sum(cnt.values())
        tv = 0.5 * sum(
            abs(cnt.get(t, 0) / Ts - glob[t] / T) for t in glob
        )
        assert 0.0 <= got[src] <= 1.0
        assert abs(got[src] - tv) < 1e-9, (src, got[src], tv)


# --- kanonymity_report / chisq_independence_cells (r9 wiring) -------------


def test_kanonymity_counts_crafted_classes(spark):
    from npm_mirror_spark.operators.checks import kanonymity_report

    # class A: 1 row / 1 sensitive value; B: 3 rows / 1 value (low
    # l-diversity); C: 7 rows / 7 values
    rows = (
        [("A", "s0")]
        + [("B", "s1")] * 3
        + [("C", f"s{i}") for i in range(2, 9)]
    )
    df = spark.createDataFrame(rows, "q string, s string")
    out = {
        r["k"]: r
        for r in kanonymity_report(df, ["q"], "s", ks=(2, 5), l_div=2).collect()
    }
    assert set(out) == {2, 5}
    for k in (2, 5):
        assert out[k]["n_classes"] == 3
        assert out[k]["min_class_size"] == 1
        assert out[k]["classes_low_ldiv"] == 2  # A and B
        assert out[k]["rows_low_ldiv"] == 4
    assert out[2]["classes_below_k"] == 1 and out[2]["rows_below_k"] == 1
    assert out[5]["classes_below_k"] == 2 and out[5]["rows_below_k"] == 4


def test_kanonymity_fully_anonymous_table_is_clean(spark):
    from npm_mirror_spark.operators.checks import kanonymity_report

    rows = [("G", f"v{i % 5}") for i in range(20)]
    df = spark.createDataFrame(rows, "q string, s string")
    r = kanonymity_report(df, ["q"], "s", ks=(10,), l_div=2).collect()[0]
    assert r["classes_below_k"] == 0 and r["rows_below_k"] == 0
    assert r["classes_low_ldiv"] == 0 and r["rows_low_ldiv"] == 0
    assert r["min_class_size"] == 20


def test_chisq_independent_table_has_zero_deviation(spark):
    from npm_mirror_spark.operators.checks import chisq_independence_cells

    # obs = row_m * col_m / N exactly for every cell -> dev_num all 0
    rows = (
        [("a", "x")] * 2 + [("a", "y")] * 2
        + [("b", "x")] * 3 + [("b", "y")] * 3
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = chisq_independence_cells(df, "r", "c").collect()
    assert len(out) == 4
    assert all(int(r["dev_num"]) == 0 and r["chi2_cell"] == 0.0 for r in out)


def test_chisq_dependent_cells_match_hand_computation(spark):
    from npm_mirror_spark.operators.checks import chisq_independence_cells

    rows = (
        [("a", "x")] * 3 + [("a", "y")] * 1
        + [("b", "x")] * 1 + [("b", "y")] * 3
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(r["r"], r["c"]): r for r in chisq_independence_cells(df, "r", "c").collect()}
    # N=8, all margins 4: |obs*8 - 16| = 8 for every cell;
    # chi2_cell = (8 / (4*4*8)) * 8 = 0.5
    for cell, r in out.items():
        assert r["n_total"] == 8 and r["row_m"] == 4 and r["col_m"] == 4
        assert int(r["dev_num"]) == 8
        assert abs(r["chi2_cell"] - 0.5) < 1e-15
    assert out[("a", "x")]["obs"] == 3 and out[("a", "y")]["obs"] == 1


def test_cohens_kappa_hand_computed_tables(spark):
    from npm_mirror_spark.operators.checks import cohens_kappa

    # perfect agreement -> kappa 1
    perfect = spark.createDataFrame(
        [("x", "x")] * 6 + [("y", "y")] * 4, "a string, b string"
    )
    r = cohens_kappa(perfect, "a", "b").collect()[0]
    assert r["n"] == 10 and r["n_agree"] == 10 and r["po"] == 1.0
    assert abs(float(r["kappa"]) - 1.0) < 1e-12

    # hand-computed 2x2: a=(x,x,x,y), b=(x,y,x,y)
    # diag = 3, pe_num = rm(x)*cm(x) + rm(y)*cm(y) = 3*2 + 1*2 = 8
    # kappa = (3*4 - 8) / (16 - 8) = 0.5
    t = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("x", "x"), ("y", "y")],
        "a string, b string",
    )
    r = cohens_kappa(t, "a", "b").collect()[0]
    assert r["n_agree"] == 3 and float(r["pe_num"]) == 8.0
    assert abs(float(r["kappa"]) - 0.5) < 1e-12

    # disjoint label sets -> agreement 0, pe 0, kappa 0
    dj = spark.createDataFrame(
        [("x", "u"), ("y", "v")], "a string, b string"
    )
    r = cohens_kappa(dj, "a", "b").collect()[0]
    assert r["n_agree"] == 0 and float(r["pe_num"]) == 0.0
    assert float(r["kappa"]) == 0.0


def test_cochran_armitage_brute_force_and_signs(spark):
    from npm_mirror_spark.operators.checks import cochran_armitage
    from pyspark.sql import functions as F

    # groups: score 1 -> 1/10 success, 2 -> 5/10, 3 -> 9/10 (rising)
    rows = (
        [(1, 1)] * 1 + [(1, 0)] * 9
        + [(2, 1)] * 5 + [(2, 0)] * 5
        + [(3, 1)] * 9 + [(3, 0)] * 1
    )
    df = spark.createDataFrame(rows, "s int, y int")
    r = cochran_armitage(
        df, success=F.col("y") == 1, score=F.col("s")
    ).collect()[0]
    N, R = 30, 15
    t_brute = sum(
        s * (r_i * N - R * n_i)
        for s, r_i, n_i in [(1, 1, 10), (2, 5, 10), (3, 9, 10)]
    )
    assert r["n"] == N and r["r_total"] == R and r["n_groups"] == 3
    assert float(r["t_num"]) == float(t_brute)
    assert t_brute > 0 and float(r["t_over_n2"]) > 0  # rising trend
    assert abs(float(r["t_over_n2"]) - t_brute / N**2) < 1e-15

    # flat rates -> T exactly 0
    flat = spark.createDataFrame(
        ([(1, 1)] * 2 + [(1, 0)] * 2) * 1
        + ([(2, 1)] * 2 + [(2, 0)] * 2)
        + ([(3, 1)] * 2 + [(3, 0)] * 2),
        "s int, y int",
    )
    r = cochran_armitage(
        flat, success=F.col("y") == 1, score=F.col("s")
    ).collect()[0]
    assert float(r["t_num"]) == 0.0


def test_mcnemar_hand_computed(spark):
    from pyspark.sql import functions as F

    from npm_mirror_spark.operators.checks import mcnemar_paired

    # gold, A-pred, B-pred per row: b = A right & B wrong (3 rows),
    # c = A wrong & B right (1 row) -> chi2 = (3-1)^2 / 4 = 1.0
    rows = (
        [(True, True, True)] * 2      # both right
        + [(True, False, False)] * 2  # both wrong
        + [(True, True, False)] * 3   # b: A right, B wrong
        + [(True, False, True)] * 1   # c: A wrong, B right
    )
    df = spark.createDataFrame(rows, "g boolean, pa boolean, pb boolean")
    r = mcnemar_paired(
        df, gold=F.col("g"), pred_a=F.col("pa"), pred_b=F.col("pb")
    ).collect()[0]
    assert r["n"] == 8
    assert r["a_correct"] == 5 and r["b_correct"] == 3
    assert r["b_discordant"] == 3 and r["c_discordant"] == 1
    assert abs(float(r["mcnemar_x2"]) - 1.0) < 1e-12


def test_mcnemar_no_discordant_is_null(spark):
    from pyspark.sql import functions as F

    from npm_mirror_spark.operators.checks import mcnemar_paired

    # identical classifiers: every pair concordant -> statistic NULL
    rows = [(True, True, True), (False, True, True), (True, False, False)]
    df = spark.createDataFrame(rows, "g boolean, pa boolean, pb boolean")
    r = mcnemar_paired(
        df, gold=F.col("g"), pred_a=F.col("pa"), pred_b=F.col("pb")
    ).collect()[0]
    assert r["b_discordant"] == 0 and r["c_discordant"] == 0
    assert r["mcnemar_x2"] is None


def test_mcnemar_sign_symmetry(spark):
    """Swapping A and B must swap b/c and leave the statistic fixed —
    (b-c)^2 is sign-free."""
    from pyspark.sql import functions as F

    from npm_mirror_spark.operators.checks import mcnemar_paired

    rows = (
        [(True, True, False)] * 4
        + [(True, False, True)] * 2
        + [(False, False, False)] * 3
    )
    df = spark.createDataFrame(rows, "g boolean, pa boolean, pb boolean")
    fwd = mcnemar_paired(
        df, gold=F.col("g"), pred_a=F.col("pa"), pred_b=F.col("pb")
    ).collect()[0]
    rev = mcnemar_paired(
        df, gold=F.col("g"), pred_a=F.col("pb"), pred_b=F.col("pa")
    ).collect()[0]
    assert fwd["b_discordant"] == rev["c_discordant"] == 4
    assert fwd["c_discordant"] == rev["b_discordant"] == 2
    assert float(fwd["mcnemar_x2"]) == float(rev["mcnemar_x2"])
    assert abs(float(fwd["mcnemar_x2"]) - 4.0 / 6.0) < 1e-12
