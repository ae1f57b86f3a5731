"""r14 continuation operator batch: unit tests with hand-computed
expectations plus bit-exactness property adversaries for the eight
operators — records trend, longest-run census, Goodman-Kruskal tau,
Hartley Fmax, t-closeness, Lin CCC, Hoover index, Adjusted Rand.  Oracle
parity for their faces runs in tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest as _pytest

# slow tier (r15, r14 verdict item 1): algorithm re-derivation /
# brute-force sweep suite — guards development-time regressions,
# not per-round results.  Runs with --runslow / SPARK_GRAFT_SLOW_TESTS=1.
pytestmark = _pytest.mark.slow


import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

D = dt.date


# --------------------------------------------------- foster_stuart_cells


def test_foster_stuart_hand_example(spark):
    """[3,1,4,1,5]: upper records at 4 and 5 (U=2); lower record at the
    first 1 only (the second 1 ties the running min, strict) -> L=1."""
    from npm_mirror_spark.operators.stats import foster_stuart_cells

    rows = [("A", D(2024, 1, i + 1), v) for i, v in enumerate([3, 1, 4, 1, 5])]
    df = spark.createDataFrame(rows, "g string, d date, x long")
    r = foster_stuart_cells(df, "g", "d", "x").collect()[0]
    assert (r["n_days"], r["upper_records"], r["lower_records"]) == (5, 2, 1)
    assert (r["d_stat"], r["s_stat"]) == (1, 3)


def test_foster_stuart_monotone_and_constant(spark):
    """Strictly increasing: every day after the first is an upper
    record; constant series: no records at all (strict comparisons)."""
    from npm_mirror_spark.operators.stats import foster_stuart_cells

    inc = [("I", D(2024, 1, i + 1), i) for i in range(6)]
    const = [("C", D(2024, 1, i + 1), 7) for i in range(4)]
    df = spark.createDataFrame(inc + const, "g string, d date, x long")
    out = {r["g"]: r for r in foster_stuart_cells(df, "g", "d", "x").collect()}
    assert (out["I"]["upper_records"], out["I"]["lower_records"]) == (5, 0)
    assert out["I"]["d_stat"] == 5
    assert (out["C"]["upper_records"], out["C"]["lower_records"]) == (0, 0)


@given(st.lists(st.integers(0, 6), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_foster_stuart_brute(spark, xs):
    from npm_mirror_spark.operators.stats import foster_stuart_cells

    rows = [("G", D(2020, 1, 1) + dt.timedelta(days=i), v) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, d date, x long")
    r = foster_stuart_cells(df, "g", "d", "x").collect()[0]
    u = sum(1 for i in range(1, len(xs)) if xs[i] > max(xs[:i]))
    lo = sum(1 for i in range(1, len(xs)) if xs[i] < min(xs[:i]))
    assert (r["n_days"], r["upper_records"], r["lower_records"]) == (
        len(xs), u, lo,
    )
    assert (r["d_stat"], r["s_stat"]) == (u - lo, u + lo)


# ----------------------------------------------------- longest_run_cells


def test_longest_run_hand_example(spark):
    """[1..6]: lower median = 3 (rank ceil(6/2)); dropping it leaves
    signs [-,-,+,+,+] -> runs of 2 and 3."""
    from npm_mirror_spark.operators.stats import longest_run_cells

    rows = [("A", D(2024, 1, i + 1), v) for i, v in enumerate([1, 2, 3, 4, 5, 6])]
    df = spark.createDataFrame(rows, "g string, d date, x long")
    r = longest_run_cells(df, "g", "d", "x").collect()[0]
    assert (r["n_signed"], r["n_runs"]) == (5, 2)
    assert (r["longest_run"], r["longest_plus"], r["longest_minus"]) == (3, 3, 2)


def test_longest_run_alternating_and_one_sided(spark):
    """Alternating off-median values give all runs of length 1; a group
    whose every off-median day is above the median has longest_minus=0."""
    from npm_mirror_spark.operators.stats import longest_run_cells

    alt = [("A", D(2024, 1, i + 1), v) for i, v in enumerate([0, 9, 0, 9, 0, 9, 5])]
    up = [("U", D(2024, 1, i + 1), v) for i, v in enumerate([1, 1, 8, 9])]
    df = spark.createDataFrame(alt + up, "g string, d date, x long")
    out = {r["g"]: r for r in longest_run_cells(df, "g", "d", "x").collect()}
    # A: median is lower median of [0,0,0,5,9,9,9] -> 5? rank ceil(7/2)=4
    # -> 4th smallest = 5; off-median: three 0s (minus) and three 9s
    # (plus) alternating by day -> longest run 1 on both sides.
    assert (out["A"]["longest_plus"], out["A"]["longest_minus"]) == (1, 1)
    assert out["A"]["n_runs"] == 6
    # U: median = lower median of [1,1,8,9] -> rank 2 -> 1; both 1s are
    # dropped as exact-median days; 8,9 are consecutive plus days.
    assert (out["U"]["n_signed"], out["U"]["longest_plus"]) == (2, 2)
    assert out["U"]["longest_minus"] == 0


@given(st.lists(st.integers(0, 4), min_size=2, max_size=30))
@settings(**_SETTINGS)
def test_longest_run_brute(spark, xs):
    from npm_mirror_spark.operators.stats import longest_run_cells

    rows = [("G", D(2020, 1, 1) + dt.timedelta(days=i), v) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, d date, x long")
    got = longest_run_cells(df, "g", "d", "x").collect()
    sx = sorted(xs)
    med = sx[(len(xs) + 1) // 2 - 1]
    signs = [1 if v > med else -1 for v in xs if v != med]
    if not signs:
        assert got == []
        return
    runs: list[tuple[int, int]] = []
    for s in signs:
        if runs and runs[-1][0] == s:
            runs[-1] = (s, runs[-1][1] + 1)
        else:
            runs.append((s, 1))
    r = got[0]
    assert (r["n_signed"], r["n_runs"]) == (len(signs), len(runs))
    assert r["longest_run"] == max(n for _, n in runs)
    assert r["longest_plus"] == max([n for s, n in runs if s == 1], default=0)
    assert r["longest_minus"] == max([n for s, n in runs if s == -1], default=0)


# --------------------------------------------------------- gk_tau_cells


def test_gk_tau_hand_example(spark):
    """2x2 with a/u=2, a/v=1, b/v=3: q_a=5, q_b=9, col sums (2,4) ->
    sum_col_sq=20; pre_terms 10 and 18; consumer tau = (28-20)/(36-20)
    = 0.5."""
    from npm_mirror_spark.operators.stats import gk_tau_cells

    rows = [("a", "u")] * 2 + [("a", "v")] + [("b", "v")] * 3
    df = spark.createDataFrame(rows, "x string, y string")
    out = {r["x"]: r for r in gk_tau_cells(df, "x", "y").collect()}
    assert (out["a"]["n_x"], out["a"]["q_x"]) == (3, 5.0)
    assert (out["b"]["n_x"], out["b"]["q_x"]) == (3, 9.0)
    assert out["a"]["sum_col_sq"] == 20.0 and out["a"]["n_total"] == 6.0
    assert (out["a"]["pre_term"], out["b"]["pre_term"]) == (10.0, 18.0)
    tau = (10.0 + 18.0 - 20.0) / (36.0 - 20.0)
    assert tau == 0.5


def test_gk_tau_perfect_and_independent(spark):
    """Perfect prediction (x determines y): consumer tau = 1.  A
    single x category: tau undefined (denominator 0 when y marginals
    concentrate) stays a consumer concern; cells remain exact."""
    from npm_mirror_spark.operators.stats import gk_tau_cells

    rows = [("a", "u")] * 3 + [("b", "v")] * 2
    df = spark.createDataFrame(rows, "x string, y string")
    out = gk_tau_cells(df, "x", "y").collect()
    n = 5.0
    sum_c2 = 9.0 + 4.0
    terms = sum(r["pre_term"] for r in out)
    assert (terms - sum_c2) / (n * n - sum_c2) == 1.0


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_gk_tau_bit_exact_vs_brute(spark, pairs):
    from npm_mirror_spark.operators.stats import gk_tau_cells

    df = spark.createDataFrame(pairs, "x long, y long")
    out = gk_tau_cells(df, "x", "y").collect()
    from collections import Counter

    cont = Counter(pairs)
    nx = Counter(x for x, _ in pairs)
    ny = Counter(y for _, y in pairs)
    n = float(len(pairs))
    sum_c2 = float(sum(v * v for v in ny.values()))
    assert len(out) == len(nx)
    for r in out:
        x = r["x"]
        qx = float(sum(c * c for (xx, _), c in cont.items() if xx == x))
        assert (r["n_x"], r["q_x"]) == (nx[x], qx)
        assert (r["n_total"], r["sum_col_sq"]) == (n, sum_c2)
        assert r["pre_term"] == (n * qx) / float(nx[x])


# ------------------------------------------------- variance_ratio_cells


def test_variance_ratio_hand_example(spark):
    """A=[1.00,3.00] cents var 20000; B=[1.00,2.00] cents var 5000 ->
    fmax = 4 on every row."""
    from npm_mirror_spark.operators.stats import variance_ratio_cells

    rows = [("A", 1.0), ("A", 3.0), ("B", 1.0), ("B", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in variance_ratio_cells(df, "g", "v").collect()}
    assert (out["A"]["s2"], out["B"]["s2"]) == (20000.0, 5000.0)
    for r in out.values():
        assert (r["s2_max"], r["s2_min"], r["fmax"]) == (20000.0, 5000.0, 4.0)


def test_variance_ratio_degenerate_groups(spark):
    """A singleton group has NULL s2 and is ignored by the max/min
    fold; a zero-variance group drives s2_min to 0 -> fmax NULL."""
    from npm_mirror_spark.operators.stats import variance_ratio_cells

    rows = [("S", 5.0), ("Z", 2.0), ("Z", 2.0), ("W", 1.0), ("W", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in variance_ratio_cells(df, "g", "v").collect()}
    assert out["S"]["s2"] is None
    assert out["Z"]["s2"] == 0.0
    assert out["W"]["fmax"] is None and out["W"]["s2_min"] == 0.0


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 300)),
        min_size=2,
        max_size=40,
    ).filter(
        lambda xs: all(
            sum(1 for g, _ in xs if g == k) >= 2 for k in {g for g, _ in xs}
        )
    )
)
@settings(**_SETTINGS)
def test_variance_ratio_bit_exact_vs_brute(spark, pairs):
    """Inputs are v/100 doubles (2-dp exact); the s2 replay is the
    documented fixed sequence (n*sumsq - sum^2) / (n*(n-1))."""
    from npm_mirror_spark.operators.stats import variance_ratio_cells

    df = spark.createDataFrame(
        [(str(g), c / 100.0) for g, c in pairs], "g string, v double"
    )
    out = {r["g"]: r for r in variance_ratio_cells(df, "g", "v").collect()}
    groups = {str(g) for g, _ in pairs}
    s2s = {}
    for g in groups:
        cs = [c for gg, c in pairs if str(gg) == g]
        n, s, ss = float(len(cs)), float(sum(cs)), float(sum(c * c for c in cs))
        s2s[g] = (n * ss - s * s) / (n * (n - 1.0))
        r = out[g]
        assert (r["n_g"], r["sum_c"], r["sumsq_c"]) == (len(cs), s, ss)
        assert r["s2"] == s2s[g]
    mx, mn = max(s2s.values()), min(s2s.values())
    for r in out.values():
        assert (r["s2_max"], r["s2_min"]) == (mx, mn)
        assert r["fmax"] == (mx / mn if mn > 0 else None)


# ---------------------------------------------------- t_closeness_report


def test_t_closeness_hand_example(spark):
    """g1={u,u,v}, g2={u}; global (u:3, v:1), N=4.  tvd(g1) =
    (|8-9|+|4-3|)/(2*3*4) = 1/12; tvd(g2) = (|4-3|+|0-1|)/(2*1*4)
    = 1/4 — the missing (g2,v) cell MUST contribute."""
    from npm_mirror_spark.operators.checks import t_closeness_report

    rows = [("g1", "u"), ("g1", "u"), ("g1", "v"), ("g2", "u")]
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r["q"]: r for r in t_closeness_report(df, ["q"], "s").collect()}
    assert (out["g1"]["n_class"], out["g1"]["tvd_num"]) == (3, 2.0)
    assert out["g1"]["tvd"] == 2.0 / 24.0
    assert (out["g2"]["n_class"], out["g2"]["tvd_num"]) == (1, 2.0)
    assert out["g2"]["tvd"] == 2.0 / 8.0


def test_t_closeness_uniform_class_is_zero(spark):
    """A class whose distribution equals the global one has tvd = 0."""
    from npm_mirror_spark.operators.checks import t_closeness_report

    rows = [("a", "u"), ("a", "v"), ("b", "u"), ("b", "v")]
    df = spark.createDataFrame(rows, "q string, s string")
    for r in t_closeness_report(df, ["q"], "s").collect():
        assert r["tvd_num"] == 0.0 and r["tvd"] == 0.0


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_t_closeness_brute(spark, rows):
    from npm_mirror_spark.operators.checks import t_closeness_report

    df = spark.createDataFrame(rows, "q long, s long")
    out = {r["q"]: r for r in t_closeness_report(df, ["q"], "s").collect()}
    from collections import Counter

    nv = Counter(s for _, s in rows)
    nn = len(rows)
    for q in {q for q, _ in rows}:
        cls = [s for qq, s in rows if qq == q]
        ng = len(cls)
        cg = Counter(cls)
        num = float(sum(abs(cg.get(v, 0) * nn - nv[v] * ng) for v in nv))
        r = out[q]
        assert (r["n_class"], r["tvd_num"]) == (ng, num)
        assert r["tvd"] == num / (2.0 * float(ng) * float(nn))


# ------------------------------------------------------------- ari_cells


def test_ari_identical_and_independent(spark):
    """Identical partitions -> ARI 1; the 2x2 all-ones contingency ->
    ARI -0.5 (the textbook Hubert-Arabie example)."""
    from npm_mirror_spark.operators.checks import ari_cells

    same = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 2), (2, 2)], "a int, b int"
    )
    r = ari_cells(same, "a", "b").collect()[0]
    assert (r["n_items"], r["pairs2_cells"], r["ari"]) == (4, 4.0, 1.0)
    anti = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2)], "a int, b int"
    )
    r = ari_cells(anti, "a", "b").collect()[0]
    assert (r["pairs2_cells"], r["ari"]) == (0.0, -0.5)


def test_ari_permutation_invariant(spark):
    """Relabeling either side must not move any cell or the index."""
    from npm_mirror_spark.operators.checks import ari_cells

    base = [(1, 1), (1, 1), (1, 2), (2, 2), (2, 2), (3, 3)]
    perm = [(a, {1: 9, 2: 7, 3: 8}[b]) for a, b in base]
    r1 = ari_cells(
        spark.createDataFrame(base, "a int, b int"), "a", "b"
    ).collect()[0]
    r2 = ari_cells(
        spark.createDataFrame(perm, "a int, b int"), "a", "b"
    ).collect()[0]
    assert r1 == r2


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),
        min_size=2,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_ari_bit_exact_vs_brute(spark, pairs):
    from npm_mirror_spark.operators.checks import ari_cells

    df = spark.createDataFrame(pairs, "a long, b long")
    r = ari_cells(df, "a", "b").collect()[0]
    from collections import Counter

    cont = Counter(pairs)
    na = Counter(a for a, _ in pairs)
    nb = Counter(b for _, b in pairs)
    n = len(pairs)
    p2c = float(sum(c * (c - 1) for c in cont.values()))
    p2a = float(sum(c * (c - 1) for c in na.values()))
    p2b = float(sum(c * (c - 1) for c in nb.values()))
    assert (r["n_items"], r["n_a_classes"], r["n_b_classes"]) == (
        n, len(na), len(nb),
    )
    assert (r["pairs2_cells"], r["pairs2_a"], r["pairs2_b"]) == (
        p2c, p2a, p2b,
    )
    c2 = float(n) * (float(n) - 1.0)
    num = 2.0 * (c2 * p2c - p2a * p2b)
    den = c2 * (p2a + p2b) - 2.0 * p2a * p2b
    assert r["ari"] == (num / den if den != 0 else None)


# --------------------------------------------------------- lin_ccc_cells


def test_lin_ccc_hand_examples(spark):
    """y == x -> CCC 1; y = 2x over x=[1,2] -> CCC = 2/7 (textbook
    moments: varx=.25, vary=1, cov=.5 -> 1/3.5)."""
    from npm_mirror_spark.operators.checks import lin_ccc_cells

    eq = spark.createDataFrame([(1, 1), (2, 2)], "x long, y long")
    r = lin_ccc_cells(eq, F.col("x"), F.col("y")).collect()[0]
    assert r["ccc"] == 1.0
    sc = spark.createDataFrame([(1, 2), (2, 4)], "x long, y long")
    r = lin_ccc_cells(sc, F.col("x"), F.col("y")).collect()[0]
    assert (r["ccc_num"], r["ccc_den"], r["ccc"]) == (4.0, 14.0, 2.0 / 7.0)


def test_lin_ccc_shift_penalized_but_r_blind(spark):
    """y = x + 10 has perfect Pearson r but CCC < 1 — the whole point
    of the agreement coefficient."""
    from npm_mirror_spark.operators.checks import lin_ccc_cells

    df = spark.createDataFrame([(i, i + 10) for i in range(5)], "x long, y long")
    r = lin_ccc_cells(df, F.col("x"), F.col("y")).collect()[0]
    assert 0.0 < r["ccc"] < 1.0


@given(
    st.lists(
        st.tuples(st.integers(-30, 30), st.integers(-30, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_lin_ccc_bit_exact_vs_brute(spark, pairs):
    from npm_mirror_spark.operators.checks import lin_ccc_cells

    df = spark.createDataFrame(pairs, "x long, y long")
    r = lin_ccc_cells(df, F.col("x"), F.col("y")).collect()[0]
    n = float(len(pairs))
    sx = float(sum(x for x, _ in pairs))
    sy = float(sum(y for _, y in pairs))
    sxx = float(sum(x * x for x, _ in pairs))
    syy = float(sum(y * y for _, y in pairs))
    sxy = float(sum(x * y for x, y in pairs))
    num = 2.0 * (n * sxy - sx * sy)
    den = (n * sxx - sx * sx) + (n * syy - sy * sy) + (sx - sy) * (sx - sy)
    assert (r["n_pairs"], r["sx"], r["sy"]) == (n, sx, sy)
    assert (r["sxx"], r["syy"], r["sxy"]) == (sxx, syy, sxy)
    assert (r["ccc_num"], r["ccc_den"]) == (num, den)
    assert r["ccc"] == (num / den if den != 0 else None)


# ---------------------------------------------------------- hoover_cells


def test_hoover_hand_examples(spark):
    """[1,3]: |2-4|+|6-4| = 4 over 2*2*4 -> 0.25; equal values -> 0;
    one unit holding everything -> (n-1)/n = 0.5 for n=2."""
    from npm_mirror_spark.operators.checks import hoover_cells

    df = spark.createDataFrame([(1,), (3,)], "x long")
    r = hoover_cells(df, F.col("x")).collect()[0]
    assert (r["n_units"], r["total_value"], r["abs_dev_sum"]) == (2, 4.0, 4.0)
    assert r["hoover"] == 0.25
    eq = spark.createDataFrame([(5,), (5,), (5,)], "x long")
    assert hoover_cells(eq, F.col("x")).collect()[0]["hoover"] == 0.0
    onehot = spark.createDataFrame([(8,), (0,)], "x long")
    assert hoover_cells(onehot, F.col("x")).collect()[0]["hoover"] == 0.5


@given(st.lists(st.integers(0, 100), min_size=1, max_size=40).filter(sum))
@settings(**_SETTINGS)
def test_hoover_brute(spark, xs):
    from npm_mirror_spark.operators.checks import hoover_cells

    df = spark.createDataFrame([(v,) for v in xs], "x long")
    r = hoover_cells(df, F.col("x")).collect()[0]
    n, t = len(xs), sum(xs)
    dev = float(sum(abs(n * v - t) for v in xs))
    assert (r["n_units"], r["total_value"], r["abs_dev_sum"]) == (
        n, float(t), dev,
    )
    assert r["hoover"] == dev / (2.0 * float(n) * float(t))
    assert 0.0 <= r["hoover"] < 1.0


# ------------------------------------------------------ dunn_pairs_cells


def test_dunn_pairs_hand_example(spark):
    """a=[1,2], b=[3,4]: pooled doubled midranks 2,4,6,8 -> r2_a=6,
    r2_b=14; mean ranks 1.5 vs 3.5 -> diff -2."""
    from npm_mirror_spark.operators.stats import dunn_pairs_cells

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "g string, x long"
    )
    r = dunn_pairs_cells(df, "x", "g").collect()[0]
    assert (r["g_a"], r["g_b"], r["n_a"], r["n_b"]) == ("a", "b", 2, 2)
    assert (r["r2_a"], r["r2_b"]) == (6.0, 14.0)
    assert (r["diff_num_x2"], r["mean_rank_diff"]) == (-16.0, -2.0)


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5)),
        min_size=2,
        max_size=40,
    ).filter(lambda xs: len({g for g, _ in xs}) >= 2)
)
@settings(**_SETTINGS)
def test_dunn_pairs_brute(spark, pairs):
    from npm_mirror_spark.operators.stats import dunn_pairs_cells

    df = spark.createDataFrame(pairs, "g long, x long")
    out = {(r["g_a"], r["g_b"]): r for r in dunn_pairs_cells(df, "x", "g").collect()}
    vals = sorted(x for _, x in pairs)

    def r2(v):  # doubled pooled midrank of value v
        less = sum(1 for u in vals if u < v)
        ties = sum(1 for u in vals if u == v)
        return 2 * less + ties + 1

    groups = sorted({g for g, _ in pairs})
    assert len(out) == len(groups) * (len(groups) - 1) // 2
    for i, ga in enumerate(groups):
        for gb in groups[i + 1:]:
            xa = [x for g, x in pairs if g == ga]
            xb = [x for g, x in pairs if g == gb]
            r2a = float(sum(r2(v) for v in xa))
            r2b = float(sum(r2(v) for v in xb))
            r = out[(ga, gb)]
            assert (r["n_a"], r["n_b"]) == (len(xa), len(xb))
            assert (r["r2_a"], r["r2_b"]) == (r2a, r2b)
            diff = r2a * float(len(xb)) - r2b * float(len(xa))
            assert r["diff_num_x2"] == diff
            assert r["mean_rank_diff"] == diff / (
                2.0 * float(len(xa)) * float(len(xb))
            )


# ---------------------------------------------------- durbin_rank_cells


def test_durbin_rank_hand_example(spark):
    """b1={t1:5, t2:3}, b2={t1:1, t2:2, t3:3}: within-block doubled
    midranks t1: 4+2, t2: 2+4, t3: 6; null means 3+4, 3+4, 4."""
    from npm_mirror_spark.operators.stats import durbin_rank_cells

    rows = [("b1", "t1", 5), ("b1", "t2", 3), ("b2", "t1", 1),
            ("b2", "t2", 2), ("b2", "t3", 3)]
    df = spark.createDataFrame(rows, "b string, t string, x long")
    out = {r["t"]: r for r in durbin_rank_cells(df, "b", "t", "x").collect()}
    assert (out["t1"]["rank_sum_x2"], out["t1"]["null_mean_x2"]) == (6.0, 7.0)
    assert (out["t2"]["rank_sum_x2"], out["t2"]["dev_x2"]) == (6.0, -1.0)
    assert (out["t3"]["blocks_present"], out["t3"]["dev_x2"]) == (1, 2.0)
    # doubled deviations always sum to zero across treatments
    assert sum(r["dev_x2"] for r in out.values()) == 0.0


def test_durbin_rank_ties_within_block(spark):
    """A block where every value ties gives each treatment the same
    doubled midrank k+1 — dev contributions all zero."""
    from npm_mirror_spark.operators.stats import durbin_rank_cells

    rows = [("b", t, 7) for t in ("t1", "t2", "t3")]
    df = spark.createDataFrame(rows, "b string, t string, x long")
    for r in durbin_rank_cells(df, "b", "t", "x").collect():
        assert (r["rank_sum_x2"], r["null_mean_x2"], r["dev_x2"]) == (
            4.0, 4.0, 0.0,
        )


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2), st.integers(0, 4)),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(**_SETTINGS)
def test_durbin_rank_brute(spark, rows):
    from npm_mirror_spark.operators.stats import durbin_rank_cells

    df = spark.createDataFrame(rows, "b long, t long, x long")
    out = {r["t"]: r for r in durbin_rank_cells(df, "b", "t", "x").collect()}
    import collections

    blocks = collections.defaultdict(list)
    for b, t, x in rows:
        blocks[b].append((t, x))
    r2sum = collections.defaultdict(float)
    nullm = collections.defaultdict(float)
    pres = collections.defaultdict(int)
    for b, members in blocks.items():
        vals = sorted(x for _, x in members)
        for t, x in members:
            less = sum(1 for u in vals if u < x)
            ties = sum(1 for u in vals if u == x)
            r2sum[t] += 2 * less + ties + 1
            nullm[t] += len(members) + 1
            pres[t] += 1
    for t in pres:
        r = out[t]
        assert r["blocks_present"] == pres[t]
        assert (r["rank_sum_x2"], r["null_mean_x2"]) == (r2sum[t], nullm[t])
        assert r["dev_x2"] == r2sum[t] - nullm[t]


# ------------------------------------------------------------- mcc_cells


def test_mcc_perfect_inverse_and_degenerate(spark):
    from npm_mirror_spark.operators.classifier import mcc_cells

    perfect = spark.createDataFrame(
        [(True, True), (True, True), (False, False), (False, False)],
        "l boolean, p boolean",
    )
    r = mcc_cells(perfect, F.col("l"), F.col("p")).collect()[0]
    assert (r["tp"], r["tn"], r["fp"], r["fn"]) == (2, 2, 0, 0)
    assert r["mcc_signed_sq"] == 1.0
    inverse = spark.createDataFrame(
        [(True, False), (True, False), (False, True), (False, True)],
        "l boolean, p boolean",
    )
    assert mcc_cells(
        inverse, F.col("l"), F.col("p")
    ).collect()[0]["mcc_signed_sq"] == -1.0
    # all-positive labels: two margins are 0 -> NULL (undefined MCC)
    degen = spark.createDataFrame(
        [(True, True), (True, False)], "l boolean, p boolean"
    )
    r = mcc_cells(degen, F.col("l"), F.col("p")).collect()[0]
    assert r["mcc_signed_sq"] is None and r["mcc_den_sq"] == 0.0


@given(
    st.lists(
        st.tuples(st.booleans(), st.booleans()), min_size=1, max_size=40
    )
)
@settings(**_SETTINGS)
def test_mcc_bit_exact_vs_brute(spark, rows):
    from npm_mirror_spark.operators.classifier import mcc_cells

    df = spark.createDataFrame(rows, "l boolean, p boolean")
    r = mcc_cells(df, F.col("l"), F.col("p")).collect()[0]
    tp = sum(1 for l, p in rows if l and p)
    fp = sum(1 for l, p in rows if not l and p)
    tn = sum(1 for l, p in rows if not l and not p)
    fn = sum(1 for l, p in rows if l and not p)
    num = float(tp * tn - fp * fn)
    den = float((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert (r["tp"], r["fp"], r["tn"], r["fn"]) == (tp, fp, tn, fn)
    assert (r["mcc_num"], r["mcc_den_sq"]) == (num, den)
    assert r["mcc_signed_sq"] == (
        (num * abs(num)) / den if den > 0 else None
    )


# ----------------------------------------------------- transitivity_cells


def test_transitivity_triangle_path_star(spark):
    """K3 -> 1; a 2-path -> 0 (one wedge, no closure); a 3-star -> 0
    with three wedges."""
    from npm_mirror_spark.operators.graph import (
        transitivity_cells,
        triangle_counts,
    )

    k3 = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    r = transitivity_cells(triangle_counts(k3)).collect()[0]
    assert (r["n_nodes"], r["wedges_x2"], r["tri_x3"]) == (3, 6.0, 3.0)
    assert r["transitivity"] == 1.0
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    r = transitivity_cells(triangle_counts(star)).collect()[0]
    assert (r["wedges_x2"], r["transitivity"]) == (6.0, 0.0)


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=20,
    ).filter(lambda es: any(a != b for a, b in es))
)
@settings(**_SETTINGS)
def test_transitivity_brute(spark, raw):
    from npm_mirror_spark.operators.graph import (
        transitivity_cells,
        triangle_counts,
    )
    import itertools

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    df = spark.createDataFrame(list(edges), "src long, dst long")
    r = transitivity_cells(triangle_counts(df)).collect()[0]
    nodes = sorted({v for e in edges for v in e})
    deg = {v: sum(1 for e in edges if v in e) for v in nodes}
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    wedges_x2 = float(sum(d * (d - 1) for d in deg.values()))
    assert (r["n_nodes"], r["deg_sum"]) == (len(nodes), float(2 * len(edges)))
    assert (r["wedges_x2"], r["tri_x3"]) == (wedges_x2, float(3 * tri))
    if wedges_x2 > 0:
        assert r["transitivity"] == (2.0 * float(3 * tri)) / wedges_x2
    else:
        assert r["transitivity"] is None


# ----------------------------------------------------- reciprocity_cells


def test_reciprocity_hand_example(spark):
    """a->b(2), b->a(1), a->c(3): 2/3 of arcs reciprocated; min-flow
    share 2/6; self-loops dropped."""
    from npm_mirror_spark.operators.graph import reciprocity_cells

    arcs = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 1), ("a", "c", 3), ("c", "c", 9)],
        "src string, dst string, w long",
    )
    r = reciprocity_cells(arcs).collect()[0]
    assert (r["n_arcs"], r["n_reciprocated"]) == (3, 2)
    assert (r["sum_w"], r["sum_w_min"]) == (6.0, 2.0)
    assert r["reciprocity"] == 2.0 / 3.0
    assert r["w_reciprocity"] == 2.0 / 6.0


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3), st.integers(1, 5)),
        min_size=1,
        max_size=25,
    ).filter(lambda es: any(a != b for a, b, _ in es))
)
@settings(**_SETTINGS)
def test_reciprocity_brute(spark, raw):
    from npm_mirror_spark.operators.graph import reciprocity_cells
    import collections

    df = spark.createDataFrame(raw, "src long, dst long, w long")
    r = reciprocity_cells(df).collect()[0]
    w = collections.Counter()
    for a, b, c in raw:
        if a != b:
            w[(a, b)] += c
    n_arcs = len(w)
    n_rec = sum(1 for (a, b) in w if (b, a) in w)
    sum_w = float(sum(w.values()))
    sum_min = float(sum(min(c, w.get((b, a), 0)) for (a, b), c in w.items()))
    assert (r["n_arcs"], r["n_reciprocated"]) == (n_arcs, n_rec)
    assert (r["sum_w"], r["sum_w_min"]) == (sum_w, sum_min)
    assert r["reciprocity"] == float(n_rec) / float(n_arcs)
    assert r["w_reciprocity"] == sum_min / sum_w


# ------------------------------------------------- modularity_cells


def test_modularity_hand_example(spark):
    """K3 + isolated edge, communities = components: q_terms 12 and
    12, Q = 24/64 = 0.375 (the Newman-Girvan hand case)."""
    from npm_mirror_spark.operators.graph import modularity_cells

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5)], "src long, dst long"
    )
    lab = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40)], "id long, label long"
    )
    out = {r["label"]: r for r in modularity_cells(e, lab).collect()}
    assert (out[10]["internal_edges"], out[10]["degree_sum"]) == (3, 6)
    assert (out[10]["q_term_x4m2"], out[40]["q_term_x4m2"]) == (12.0, 12.0)
    for r in out.values():
        assert (r["m_edges"], r["modularity"]) == (4, 0.375)


def test_modularity_single_community_is_zero(spark):
    """Everything in one community: e_c = m and d_c = 2m, so
    q_term = 4m^2 - 4m^2 = 0 -> Q = 0."""
    from npm_mirror_spark.operators.graph import modularity_cells

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    lab = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "id long, label long"
    )
    r = modularity_cells(e, lab).collect()[0]
    assert (r["q_term_x4m2"], r["modularity"]) == (0.0, 0.0)


def test_graph_quality_canonicalization(spark):
    """Self-loops, duplicates and reversed edges must not move any
    cell (the triangle_counts contract, applied here too)."""
    from npm_mirror_spark.operators.graph import (
        attr_assortativity_cells,
        conductance_cells,
        modularity_cells,
    )

    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5)], "src long, dst long"
    )
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (4, 5), (4, 4), (1, 2)],
        "src long, dst long",
    )
    lab = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40)], "id long, label long"
    )
    at = spark.createDataFrame(
        [(1, "X"), (2, "X"), (3, "Y"), (4, "Y"), (5, "Y")],
        "id long, cat string",
    )
    assert (
        modularity_cells(clean, lab).collect()
        == modularity_cells(messy, lab).collect()
    )
    assert (
        conductance_cells(clean, lab).collect()
        == conductance_cells(messy, lab).collect()
    )
    assert (
        attr_assortativity_cells(clean, at).collect()
        == attr_assortativity_cells(messy, at).collect()
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=15,
    ).filter(lambda es: any(a != b for a, b in es)),
    st.lists(st.integers(0, 2), min_size=6, max_size=6),
)
@settings(**_SETTINGS)
def test_modularity_and_conductance_brute(spark, raw, labels):
    from npm_mirror_spark.operators.graph import (
        conductance_cells,
        modularity_cells,
    )

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    nodes = sorted({v for e in edges for v in e})
    lab = {v: labels[v] for v in nodes}
    e_df = spark.createDataFrame(list(edges), "src long, dst long")
    l_df = spark.createDataFrame(
        [(v, lab[v]) for v in nodes], "id long, label long"
    )
    m = len(edges)
    deg = {v: sum(1 for e in edges if v in e) for v in nodes}
    comms = sorted(set(lab.values()))
    mod = {r["label"]: r for r in modularity_cells(e_df, l_df).collect()}
    con = {r["label"]: r for r in conductance_cells(e_df, l_df).collect()}
    assert set(mod) == set(comms) and set(con) == set(comms)
    qsum = 0.0
    for c in comms:
        members = {v for v in nodes if lab[v] == c}
        internal = sum(1 for a, b in edges if a in members and b in members)
        cut = sum(1 for a, b in edges if (a in members) != (b in members))
        vol = sum(deg[v] for v in members)
        q_term = float(4 * m * internal - vol * vol)
        qsum += q_term
        r = mod[c]
        assert (r["n_nodes"], r["internal_edges"], r["degree_sum"]) == (
            len(members), internal, vol,
        )
        assert r["q_term_x4m2"] == q_term
        rc = con[c]
        assert (rc["degree_sum"], rc["cut_edges"]) == (vol, cut)
        dn = min(vol, 2 * m - vol)
        assert rc["conductance"] == (
            float(cut) / float(dn) if dn > 0 else None
        )
    for c in comms:
        assert mod[c]["modularity"] == qsum / (4.0 * float(m) * float(m))


# ------------------------------------------- attr_assortativity_cells


def test_attr_assortativity_hand_examples(spark):
    from npm_mirror_spark.operators.graph import attr_assortativity_cells

    homo = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    at = spark.createDataFrame(
        [(1, "X"), (2, "X"), (3, "Y"), (4, "Y")], "id long, cat string"
    )
    r = attr_assortativity_cells(homo, at).collect()[0]
    assert (r["same_x2"], r["assortativity"]) == (4, 1.0)
    hetero = spark.createDataFrame([(1, 3)], "src long, dst long")
    at2 = spark.createDataFrame(
        [(1, "X"), (3, "Y")], "id long, cat string"
    )
    r = attr_assortativity_cells(hetero, at2).collect()[0]
    assert r["assortativity"] == -1.0
    # single category: denominator 0 -> NULL
    mono = spark.createDataFrame([(1, 2)], "src long, dst long")
    at3 = spark.createDataFrame(
        [(1, "X"), (2, "X")], "id long, cat string"
    )
    r = attr_assortativity_cells(mono, at3).collect()[0]
    assert r["assortativity"] is None and r["n_cats"] == 1


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=15,
    ).filter(lambda es: any(a != b for a, b in es)),
    st.lists(st.integers(0, 1), min_size=6, max_size=6),
)
@settings(**_SETTINGS)
def test_attr_assortativity_brute(spark, raw, cats):
    from npm_mirror_spark.operators.graph import attr_assortativity_cells
    import collections

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    nodes = sorted({v for e in edges for v in e})
    cat = {v: cats[v] for v in nodes}
    e_df = spark.createDataFrame(list(edges), "src long, dst long")
    a_df = spark.createDataFrame(
        [(v, str(cat[v])) for v in nodes], "id long, cat string"
    )
    r = attr_assortativity_cells(e_df, a_df).collect()[0]
    m = len(edges)
    same_x2 = 2 * sum(1 for a, b in edges if cat[a] == cat[b])
    mass = collections.Counter()
    for a, b in edges:
        mass[cat[a]] += 1
        mass[cat[b]] += 1
    smass = float(sum(v * v for v in mass.values()))
    assert (r["m_edges"], r["same_x2"]) == (m, same_x2)
    assert (r["n_cats"], r["sum_cat_mass_sq"]) == (len(mass), smass)
    num = 2.0 * float(m) * float(same_x2) - smass
    den = (2.0 * float(m)) * (2.0 * float(m)) - smass
    assert (r["assort_num"], r["assort_den"]) == (num, den)
    assert r["assortativity"] == (num / den if den != 0 else None)


# ------------------------------------------------- lift_gains_cells


def test_lift_gains_hand_example(spark):
    """scores [10,10,9,8] desc, labels [1,0,1,0], k=2: tie-group 10
    lands whole in bucket 0; both buckets lift 1.0 (no skill)."""
    from npm_mirror_spark.operators.classifier import lift_gains_cells

    df = spark.createDataFrame(
        [(10, 1), (10, 0), (9, 1), (8, 0)], "s long, l long"
    )
    out = lift_gains_cells(df, "s", F.col("l"), k=2).collect()
    assert [(r["bucket"], r["n_d"], r["pos_d"]) for r in out] == [
        (0, 2, 1), (1, 2, 1),
    ]
    assert out[0]["lift"] == 1.0 and out[0]["gain"] == 0.5
    assert out[1]["gain"] == 1.0 and out[1]["depth"] == 1.0


def test_lift_gains_perfect_ranker(spark):
    """All positives in the top half: top bucket lift = 2, gain 1.0
    already at depth 0.5."""
    from npm_mirror_spark.operators.classifier import lift_gains_cells

    rows = [(9, 1), (8, 1), (2, 0), (1, 0)]
    df = spark.createDataFrame(rows, "s long, l long")
    out = lift_gains_cells(df, "s", F.col("l"), k=2).collect()
    assert out[0]["lift"] == 2.0 and out[0]["gain"] == 1.0
    assert out[1]["pos_d"] == 0


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_lift_gains_brute(spark, rows):
    from npm_mirror_spark.operators.classifier import lift_gains_cells

    k = 4
    df = spark.createDataFrame(
        [(s, 1 if l else 0) for s, l in rows], "s long, l long"
    )
    out = lift_gains_cells(df, "s", F.col("l"), k=k).collect()
    import collections

    cnt = collections.Counter(s for s, _ in rows)
    pos = collections.Counter(s for s, l in rows if l)
    n, p = len(rows), sum(1 for _, l in rows if l)
    scores = sorted(cnt, reverse=True)
    want = collections.defaultdict(lambda: [0, 0])
    prior = 0
    for s in scores:
        bk = prior * k // n
        want[bk][0] += cnt[s]
        want[bk][1] += pos.get(s, 0)
        prior += cnt[s]
    assert [(r["bucket"], r["n_d"], r["pos_d"]) for r in out] == [
        (bk, c[0], c[1]) for bk, c in sorted(want.items())
    ]
    cum_n = cum_p = 0
    for r in out:
        cum_n += r["n_d"]
        cum_p += r["pos_d"]
        assert (r["cum_n"], r["cum_pos"]) == (cum_n, cum_p)
        assert (r["n_total"], r["pos_total"]) == (n, p)
        if p > 0:
            assert r["lift"] == (float(r["pos_d"]) * float(n)) / (
                float(r["n_d"]) * float(p)
            )
            assert r["gain"] == float(cum_p) / float(p)
        else:
            assert r["lift"] is None and r["gain"] is None
        assert r["depth"] == float(cum_n) / float(n)


# ------------------------------------------------------- lorenz_cells


def test_lorenz_hand_example(spark):
    """[1,1,2,4], k=2: poorest half holds 2/8 of the mass."""
    from npm_mirror_spark.operators.checks import lorenz_cells

    df = spark.createDataFrame([(1,), (1,), (2,), (4,)], "x long")
    out = lorenz_cells(df, F.col("x"), k=2).collect()
    assert [(r["bucket"], r["n_u"], r["v_sum"]) for r in out] == [
        (0, 2, 2.0), (1, 2, 6.0),
    ]
    assert out[0]["value_share"] == 0.25 and out[0]["pop_share"] == 0.5
    assert out[1]["value_share"] == 1.0


def test_lorenz_equal_values_is_diagonal(spark):
    """Perfect equality: every point sits on the diagonal
    (value_share == pop_share)."""
    from npm_mirror_spark.operators.checks import lorenz_cells

    df = spark.createDataFrame([(7,)] * 12, "x long")
    for r in lorenz_cells(df, F.col("x"), k=4).collect():
        assert r["value_share"] == r["pop_share"]


@given(st.lists(st.integers(0, 50), min_size=1, max_size=40).filter(sum))
@settings(**_SETTINGS)
def test_lorenz_brute(spark, xs):
    from npm_mirror_spark.operators.checks import lorenz_cells

    k = 4
    df = spark.createDataFrame([(v,) for v in xs], "x long")
    out = lorenz_cells(df, F.col("x"), k=k).collect()
    import collections

    cnt = collections.Counter(xs)
    n, t = len(xs), sum(xs)
    want = collections.defaultdict(lambda: [0, 0])
    prior = 0
    for v in sorted(cnt):
        bk = prior * k // n
        want[bk][0] += cnt[v]
        want[bk][1] += v * cnt[v]
        prior += cnt[v]
    assert [(r["bucket"], r["n_u"], r["v_sum"]) for r in out] == [
        (bk, c[0], float(c[1])) for bk, c in sorted(want.items())
    ]
    cum_n = cum_v = 0
    for r in out:
        bk = r["bucket"]
        cum_n += want[bk][0]
        cum_v += want[bk][1]
        assert (r["cum_n"], r["cum_v"]) == (cum_n, float(cum_v))
        assert r["pop_share"] == float(cum_n) / float(n)
        assert r["value_share"] == float(cum_v) / float(t)
    # monotone convexity: shares never decrease, last point is (1,1)
    assert out[-1]["pop_share"] == 1.0 and out[-1]["value_share"] == 1.0


# ------------------------------------------------- rich_club_cells


def test_rich_club_complete_and_star(spark):
    """K4: every node deg 3, so phi(1)=phi(2)=1 and k=4 empties the
    club; a 3-star has one rich node (phi undefined) and no rich
    edge."""
    from npm_mirror_spark.operators.graph import rich_club_cells

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    out = {r["k"]: r for r in rich_club_cells(k4, ks=(1, 2, 4)).collect()}
    assert (out[1]["n_rich"], out[1]["e_rich"], out[1]["phi"]) == (4, 6, 1.0)
    assert out[2]["phi"] == 1.0
    assert out[4]["n_rich"] == 0 and out[4]["phi"] is None
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    r = {r["k"]: r for r in rich_club_cells(star, ks=(1,)).collect()}[1]
    assert (r["n_rich"], r["e_rich"], r["phi"]) == (1, 0, None)


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=18,
    ).filter(lambda es: any(a != b for a, b in es))
)
@settings(**_SETTINGS)
def test_rich_club_brute(spark, raw):
    from npm_mirror_spark.operators.graph import rich_club_cells

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    df = spark.createDataFrame(list(edges), "src long, dst long")
    ks = (1, 2, 3)
    out = {r["k"]: r for r in rich_club_cells(df, ks=ks).collect()}
    nodes = sorted({v for e in edges for v in e})
    deg = {v: sum(1 for e in edges if v in e) for v in nodes}
    for k in ks:
        rich = {v for v in nodes if deg[v] > k}
        e_rich = sum(1 for a, b in edges if a in rich and b in rich)
        r = out[k]
        assert (r["n_rich"], r["e_rich"]) == (len(rich), e_rich)
        if len(rich) >= 2:
            assert r["phi"] == (2.0 * float(e_rich)) / (
                float(len(rich)) * (float(len(rich)) - 1.0)
            )
        else:
            assert r["phi"] is None


# ------------------------------------------------------- ess_cells


def test_ess_uniform_and_concentrated(spark):
    """Uniform weights: ess == n (ratio 1); one unit holding all the
    mass: ess -> 1."""
    from npm_mirror_spark.operators.checks import ess_cells

    rows = [("U", 2), ("U", 2), ("U", 2), ("C", 9), ("C", 0), ("C", 0)]
    df = spark.createDataFrame(rows, "g string, w long")
    out = {r["g"]: r for r in ess_cells(df, "g", F.col("w")).collect()}
    assert (out["U"]["ess"], out["U"]["ess_ratio"]) == (3.0, 1.0)
    assert out["C"]["ess"] == 1.0
    assert out["C"]["ess_ratio"] == 1.0 / 3.0


@given(st.lists(st.integers(0, 20), min_size=1, max_size=40).filter(sum))
@settings(**_SETTINGS)
def test_ess_brute_and_bounds(spark, ws):
    from npm_mirror_spark.operators.checks import ess_cells

    df = spark.createDataFrame([("G", w) for w in ws], "g string, w long")
    r = ess_cells(df, "g", F.col("w")).collect()[0]
    n = len(ws)
    s = float(sum(ws))
    s2 = float(sum(w * w for w in ws))
    assert (r["n_units"], r["sum_w"], r["sum_w2"]) == (n, s, s2)
    assert r["ess"] == (s * s) / s2
    assert r["ess_ratio"] == ((s * s) / s2) / float(n)
    # Kish bounds: 1 <= ess <= n (Cauchy-Schwarz)
    assert 1.0 <= r["ess"] <= float(n) + 1e-9


# ------------------------------------------------------- pacf_cells


def test_pacf_hand_example(spark):
    """[1..6] on consecutive days: C0=630, C1=315, C2=36, C3=-171;
    the pacf chain replays the documented fixed IEEE sequence."""
    from npm_mirror_spark.operators.temporal import pacf_cells

    rows = [(D(2024, 1, i + 1), i + 1) for i in range(6)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = pacf_cells(df, "d", "x").collect()[0]
    assert (r["c0"], r["c1"], r["c2"], r["c3"]) == (630.0, 315.0, 36.0, -171.0)
    r1, r2, r3 = 315.0 / 630.0, 36.0 / 630.0, -171.0 / 630.0
    assert (r["r1"], r["r2"], r["r3"]) == (r1, r2, r3)
    p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    p21 = r1 * (1.0 - p2)
    p3 = (r3 - p21 * r2 - p2 * r1) / (1.0 - p21 * r1 - p2 * r2)
    assert (r["pacf1"], r["pacf2"], r["pacf3"]) == (r1, p2, p3)


def test_pacf_constant_series_undefined(spark):
    """A constant series has C0 = 0: every ratio (and pacf) is NULL."""
    from npm_mirror_spark.operators.temporal import pacf_cells

    rows = [(D(2024, 1, i + 1), 7) for i in range(8)]
    df = spark.createDataFrame(rows, "d date, x long")
    r = pacf_cells(df, "d", "x").collect()[0]
    assert r["c0"] == 0.0
    assert r["r1"] is None and r["pacf2"] is None and r["pacf3"] is None


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 9)),
        min_size=4,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
@settings(**_SETTINGS)
def test_pacf_bit_exact_vs_brute(spark, pts):
    """Random day/value series WITH GAPS: the calendar-pairwise cells
    and the full pacf chain replay bit-for-bit in python floats."""
    from npm_mirror_spark.operators.temporal import pacf_cells

    rows = [(D(2020, 1, 1) + dt.timedelta(days=d), v) for d, v in pts]
    df = spark.createDataFrame(rows, "d date, x long")
    r = pacf_cells(df, "d", "x").collect()[0]
    vals = dict(pts)
    n = float(len(pts))
    s = float(sum(v for _, v in pts))
    sxx = float(sum(v * v for _, v in pts))
    c0 = n * n * sxx - n * s * s
    assert (r["n_days"], r["c0"]) == (len(pts), c0)
    cs = {}
    for k in (1, 2, 3):
        prs = [(vals[d], vals[d + k]) for d in vals if d + k in vals]
        m = float(len(prs))
        sab = float(sum(a * b for a, b in prs))
        a = float(sum(a for a, _ in prs))
        b = float(sum(b for _, b in prs))
        cs[k] = n * n * sab - n * s * (a + b) + m * s * s
        assert r[f"c{k}"] == cs[k]
    if c0 > 0:
        r1, r2, r3 = cs[1] / c0, cs[2] / c0, cs[3] / c0
        assert (r["r1"], r["r2"], r["r3"]) == (r1, r2, r3)
        if 1.0 - r1 * r1 != 0:
            p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
            assert r["pacf2"] == p2
            p21 = r1 * (1.0 - p2)
            den3 = 1.0 - p21 * r1 - p2 * r2
            if den3 != 0:
                assert r["pacf3"] == (r3 - p21 * r2 - p2 * r1) / den3
    else:
        assert r["r1"] is None
