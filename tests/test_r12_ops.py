"""r12 operator batch: unit tests with hand-computed expectations, plus
the r13 batch of family faces checked as a batch: oracle parity,
registration and plan shape.  Library hand examples for
logrank_cells / mantel_haenszel_cells live in tests/test_r11_ops.py
(the operators shipped in r11; the faces are r12's)."""

from __future__ import annotations

import pytest

from npm_mirror_spark.registry import resolve_face
from tests.oracle_harness import (
    compare,
    duckdb_con,
    plan_problems,
    registration_problems,
)

# the r13 batch of family faces (npm_mirror_spark/faces/)
R13_BATCH = [
    "q_logrank", "q_mantel_haenszel", "q_page_trend", "q_pettitt",
    "q_conover_scale", "q_digit_pref", "q_mrr", "q_ngram_novelty",
    "q_quade", "q_cliff_delta", "q_hoeffding", "q_aalen_johansen",
]


# ------------------------------------------------------- oracle parity


@pytest.mark.parametrize("name", sorted(R13_BATCH))
def test_staged_face_matches_oracle(spark, sf_dir, name):
    """Every r13 face clears the registry harness bar (rows + schema +
    canonical values vs DuckDB) and returns at least one row."""
    face, sql = resolve_face(name)
    df = face(spark, sf_dir)
    problems = compare(df, duckdb_con(sf_dir), sql)
    assert not problems, f"{name}: {problems}"
    assert df.count() > 0, f"{name} returned no rows"


def test_r13_batch_is_registered_with_oracles():
    """The r13 batch is in the registry as its family-table callables
    with their resolved oracles (q_mrr / q_ngram_novelty nest registered
    oracle SQL)."""
    assert registration_problems(R13_BATCH) == []


def test_staged_plan_shapes_pre_cleared(spark, sf_dir):
    """No CartesianProduct in the r13 batch, and a
    BroadcastNestedLoopJoin only in faces on ALLOWED_BNLJ."""
    assert plan_problems(spark, sf_dir, R13_BATCH) == []


# ---------------------------------------------------------------- units


def test_page_trend_hand_example(spark):
    """3 ordered treatments x 3 complete blocks with a perfect
    monotone trend: every block ranks t1<t2<t3, so 2R = (6, 12, 18)
    and 2L = 1*6 + 2*12 + 3*18 = 84 — the maximum (E[2L] under H0 is
    n*k*(k+1)^2/2 = 72).  A 4th incomplete block must be dropped."""
    from pyspark.sql import functions as F

    from npm_mirror_spark.operators.stats import page_trend_cells

    rows = [
        ("b1", 1, 10), ("b1", 2, 20), ("b1", 3, 30),
        ("b2", 1, 1), ("b2", 2, 2), ("b2", 3, 3),
        ("b3", 1, 100), ("b3", 2, 200), ("b3", 3, 300),
        ("b4", 1, 5), ("b4", 2, 6),  # incomplete: dropped
    ]
    df = spark.createDataFrame(rows, "b string, t int, x long")
    out = {r["t"]: r for r in page_trend_cells(df, "b", "t", "x").collect()}
    assert set(out) == {1, 2, 3}
    assert [out[t]["w"] for t in (1, 2, 3)] == [1, 2, 3]
    assert [out[t]["rank_sum_x2"] for t in (1, 2, 3)] == [6.0, 12.0, 18.0]
    assert sum(r["l_term_x2"] for r in out.values()) == 84.0
    for r in out.values():
        assert r["n_blocks"] == 3 and r["k_treatments"] == 3


def test_page_trend_ties_and_order(spark):
    """Within-block ties take doubled midranks; w follows the natural
    treatment order even when data arrives shuffled."""
    from npm_mirror_spark.operators.stats import page_trend_cells

    rows = [
        ("b1", 3, 7), ("b1", 1, 7), ("b1", 2, 9),  # t1,t3 tie: mr2 = 3 each
        ("b2", 2, 1), ("b2", 3, 2), ("b2", 1, 3),
    ]
    df = spark.createDataFrame(rows, "b string, t int, x long")
    out = {r["t"]: r for r in page_trend_cells(df, "b", "t", "x").collect()}
    # block1 doubled ranks: t1=3, t3=3, t2=6; block2: t2=2, t3=4, t1=6
    assert out[1]["rank_sum_x2"] == 3.0 + 6.0
    assert out[2]["rank_sum_x2"] == 6.0 + 2.0
    assert out[3]["rank_sum_x2"] == 3.0 + 4.0
    assert out[3]["l_term_x2"] == 3.0 * 7.0


def test_pettitt_hand_example(spark):
    """Series 1,2,10,11: the identity path must equal the O(n^2)
    definition — U = (-3, -4, -3, 0), change point at t=2 (|U|=4)."""
    from npm_mirror_spark.operators.temporal import pettitt_cells

    rows = [("d1", 1), ("d2", 2), ("d3", 10), ("d4", 11)]
    df = spark.createDataFrame(rows, "d string, x long")
    out = [(r["d"], r["u_t"]) for r in pettitt_cells(df, "d", "x").collect()]
    assert out == [("d1", -3), ("d2", -4), ("d3", -3), ("d4", 0)]
    assert all(r["n_days"] == 4 for r in pettitt_cells(df, "d", "x").collect())


def test_pettitt_matches_brute_force(spark):
    """Property: the prefix identity equals the literal double sum on a
    tie-heavy series."""
    from npm_mirror_spark.operators.temporal import pettitt_cells

    xs = [5, 3, 5, 1, 9, 5, 3, 9, 1, 1, 7]
    rows = [(f"d{i:02d}", x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "d string, x long")
    got = {r["d"]: r["u_t"] for r in pettitt_cells(df, "d", "x").collect()}
    sgn = lambda a: (a > 0) - (a < 0)
    for t in range(1, len(xs) + 1):
        want = sum(
            sgn(xs[i] - xs[j])
            for i in range(t)
            for j in range(t, len(xs))
        )
        assert got[f"d{t - 1:02d}"] == want, t


def test_conover_scale_hand_example(spark):
    """Group a = (1, 3, 5): med2 = 6, z2 = (4, 0, 4).  Group b =
    (2, 2, 10, 10): med2 = 12, z2 = (8, 8, 8, 8).  Combined z2 sorted:
    0, 4, 4, 8, 8, 8, 8 -> doubled midranks 2, 5, 5, 11, 11, 11, 11.
    sum_sq_rank_x4: a = 4 + 25 + 25 = 54; b = 4 * 121 = 484.
    sum_quad_rank_x16: a = 16 + 625 + 625 = 1266; b = 4 * 14641."""
    from npm_mirror_spark.operators.stats import conover_scale_cells

    rows = [("a", 1), ("a", 3), ("a", 5),
            ("b", 2), ("b", 2), ("b", 10), ("b", 10)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r["g"]: r for r in conover_scale_cells(df, "x", "g").collect()}
    assert out["a"]["n_i"] == 3 and out["b"]["n_i"] == 4
    assert out["a"]["sum_sq_rank_x4"] == 54.0
    assert out["b"]["sum_sq_rank_x4"] == 484.0
    assert out["a"]["sum_quad_rank_x16"] == 1266.0
    assert out["b"]["sum_quad_rank_x16"] == 4 * 14641.0


def test_conover_scale_matches_scipy_convention(spark):
    """Property: undoubled rank sums derived from the cells must match
    a brute-force python replay (median-centered |dev| midranks)."""
    from npm_mirror_spark.operators.stats import conover_scale_cells

    import random

    rng = random.Random(7)
    rows = [(g, rng.randint(0, 20)) for g in "abc" for _ in range(25)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r["g"]: r for r in conover_scale_cells(df, "x", "g").collect()}

    # python replay with doubled medians / doubled midranks
    by_g = {}
    for g_, x in rows:
        by_g.setdefault(g_, []).append(x)
    z2s = []
    for g_, xs in by_g.items():
        s = sorted(xs)
        n = len(s)
        med2 = s[(n + 1) // 2 - 1] + s[n // 2]
        z2s += [(g_, abs(2 * x - med2)) for x in xs]
    allz = sorted(v for _, v in z2s)
    for g_ in by_g:
        s2 = 0
        for gg, v in z2s:
            if gg != g_:
                continue
            below = sum(1 for u in allz if u < v)
            ties = sum(1 for u in allz if u == v)
            mr2 = 2 * below + ties + 1
            s2 += mr2 * mr2
        assert out[g_]["sum_sq_rank_x4"] == float(s2), g_


def test_digit_pref_hand_example(spark):
    """Amounts 10.9, 11.2, 21.7, 5.0 truncate to last digits
    0, 1, 1, 5 with N=4.  ALWAYS 10 rows, zero-filled (review finding:
    absent digits carry the LARGEST chi2 terms — omitting them
    understated the statistic exactly when the screen matters): the
    seven absent digits each contribute dev_x10 = -4, and the full-axis
    deviations sum to zero."""
    from npm_mirror_spark.operators.checks import digit_preference_cells

    df = spark.createDataFrame(
        [(10.9,), (11.2,), (21.7,), (5.0,), (None,)], "v double"
    )
    out = {r["digit"]: r for r in digit_preference_cells(df, "v").collect()}
    assert set(out) == set(range(10))
    assert out[1]["n"] == 2 and out[1]["dev_x10"] == 16
    assert out[0]["dev_x10"] == 6 and out[0]["sq_dev_x100"] == 36
    for d in (2, 3, 4, 6, 7, 8, 9):
        assert out[d]["n"] == 0 and out[d]["dev_x10"] == -4
        assert out[d]["sq_dev_x100"] == 16
    assert sum(r["dev_x10"] for r in out.values()) == 0
    assert sum(r["sq_dev_x100"] for r in out.values()) == 36 + 256 + 36 + 7 * 16


def test_ngram_novelty_hand_example(spark):
    """doc1 (src a): "x y z w" -> trigrams {x y z, y z w}; doc2 (src b)
    repeats "x y z" and adds "q r s": types = {x y z, q r s}, novel =
    {q r s} only.  Novelty: a = 2/2, b = 1/2."""
    from npm_mirror_spark.operators.text import ngram_novelty

    rows = [
        (1, "a", "x y z w"),
        (2, "b", "x y z"),
        (3, "b", "q r s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in ngram_novelty(df, "text", "doc_id", "source").collect()}
    assert out["a"]["n_types"] == 2 and out["a"]["n_novel"] == 2
    assert out["a"]["novelty"] == 1.0
    assert out["b"]["n_types"] == 2 and out["b"]["n_novel"] == 1
    assert out["b"]["novelty"] == 0.5


def test_ngram_novelty_within_doc_repeats_count_once(spark):
    """Repeats inside one doc are one TYPE; a later doc repeating it is
    zero novel types."""
    from npm_mirror_spark.operators.text import ngram_novelty

    rows = [(1, "a", "p q r p q r p q r"), (2, "b", "p q r")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in ngram_novelty(df, "text", "doc_id", "source").collect()}
    # doc1 trigrams: p q r, q r p, r p q (each repeated -> once)
    assert out["a"]["n_types"] == 3 and out["a"]["n_novel"] == 3
    assert out["b"]["n_types"] == 1 and out["b"]["n_novel"] == 0


def test_mrr_rank_semantics(spark, sf_dir):
    """rr must be exactly 1/rank for hits and 0 with rank 0 for misses;
    every probe appears exactly once."""
    from npm_mirror_spark.faces.corpus import q_mrr

    rows = q_mrr(spark, sf_dir).collect()
    assert len(rows) == len({r["probe_id"] for r in rows}) == 5
    for r in rows:
        if r["rank"] > 0:
            assert r["rr"] == 1.0 / r["rank"]
        else:
            assert r["rr"] == 0.0


def test_quade_hand_example(spark):
    """Classic 2-block, 3-treatment table.
    b1 = (1, 2, 3): within ranks 1,2,3 (mr2 = 2,4,6), range 2.
    b2 = (10, 30, 20): ranks 1,3,2 (mr2 = 2,6,4), range 20.
    Range ranks: b1 -> 1 (mrange2 = 2), b2 -> 2 (mrange2 = 4).
    term = mrange2 * (mr2 - 4):
      t1: 2*(2-4) + 4*(2-4) = -12 ; ss = 16 + 64 = 80
      t2: 2*(4-4) + 4*(6-4) =   8 ; ss = 0 + 64
      t3: 2*(6-4) + 4*(4-4) =   4 ; ss = 16 + 0
    Sanity: Sigma s_x4 = 0."""
    from npm_mirror_spark.operators.stats import quade_cells

    rows = [
        ("b1", "t1", 1), ("b1", "t2", 2), ("b1", "t3", 3),
        ("b2", "t1", 10), ("b2", "t2", 30), ("b2", "t3", 20),
    ]
    df = spark.createDataFrame(rows, "b string, t string, x long")
    out = {r["t"]: r for r in quade_cells(df, "b", "t", "x").collect()}
    assert [out[t]["s_x4"] for t in ("t1", "t2", "t3")] == [-12.0, 8.0, 4.0]
    assert [out[t]["ss_x16"] for t in ("t1", "t2", "t3")] == [80.0, 64.0, 16.0]
    assert sum(r["s_x4"] for r in out.values()) == 0.0
    for r in out.values():
        assert r["n_blocks"] == 2 and r["k_treatments"] == 3


def test_quade_incomplete_block_dropped_and_zero_sum(spark):
    """Incomplete blocks drop whole; Sigma_j s_x4 = 0 is a structural
    identity (within-block doubled deviations sum to 0)."""
    import random

    from npm_mirror_spark.operators.stats import quade_cells

    rng = random.Random(3)
    rows = []
    for b in range(12):
        for t in range(4):
            if b == 11 and t == 3:
                continue  # incomplete block
            rows.append((f"b{b:02d}", f"t{t}", rng.randint(0, 9)))
    df = spark.createDataFrame(rows, "b string, t string, x long")
    out = quade_cells(df, "b", "t", "x").collect()
    assert all(r["n_blocks"] == 11 for r in out)
    assert sum(r["s_x4"] for r in out) == 0.0


def test_cliff_delta_hand_example(spark):
    """a = (1, 2), b = (2, 3, 3): cross pairs (a, b): 1<2, 1<3, 1<3,
    2=2, 2<3, 2<3 -> gt(b over a... reported as higher-group wins) —
    in cells terms for (g_lo=a, g_hi=b): gt = #(x_b > x_a) = 5,
    ties = 1, lt = 0, delta = (5 - 0) / 6."""
    from npm_mirror_spark.operators.stats import cliff_delta_cells

    rows = [("a", 1), ("a", 2), ("b", 2), ("b", 3), ("b", 3)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = cliff_delta_cells(df, "x", "g").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["g_lo"], r["g_hi"], r["n_lo"], r["n_hi"]) == ("a", "b", 2, 3)
    assert (r["gt"], r["lt"], r["ties"]) == (5.0, 0.0, 1.0)
    assert r["delta"] == 5.0 / 6.0


def test_cliff_delta_brute_force_property(spark):
    """Census vs literal O(n^2) python count on random tie-heavy
    3-group data; identical groups give delta = 0."""
    import random

    from npm_mirror_spark.operators.stats import cliff_delta_cells

    rng = random.Random(11)
    data = {g: [rng.randint(0, 6) for _ in range(30)] for g in "abc"}
    rows = [(g, x) for g, xs in data.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {(r["g_lo"], r["g_hi"]): r for r in cliff_delta_cells(df, "x", "g").collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    for (lo, hi), r in out.items():
        gt = sum(1 for xl in data[lo] for xh in data[hi] if xh > xl)
        lt = sum(1 for xl in data[lo] for xh in data[hi] if xh < xl)
        ties = sum(1 for xl in data[lo] for xh in data[hi] if xh == xl)
        assert (r["gt"], r["lt"], r["ties"]) == (gt, lt, ties)
        assert r["delta"] == (gt - lt) / (len(data[lo]) * len(data[hi]))
    same = spark.createDataFrame(
        [("a", x) for x in data["a"]] + [("b", x) for x in data["a"]],
        "g string, x long",
    )
    assert cliff_delta_cells(same, "x", "g").collect()[0]["delta"] == 0.0


def test_hoeffding_cells_brute_force(spark):
    """q4/r2/s2 must equal the literal O(n^2) phi-convention double loop
    on tie-heavy data; independence sanity: on a perfect comonotone
    sample with no ties, Q_i = (q4 - 1) / 4 recovers the classical
    strict count i - 1."""
    import random

    from npm_mirror_spark.operators.checks import hoeffding_d_cells

    rng = random.Random(19)
    pts = [(rng.randint(0, 4), rng.randint(0, 4)) for _ in range(60)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = {(r["x"], r["y"]): r for r in hoeffding_d_cells(df, "x", "y").collect()}

    def phi(a, b):
        return 2 if a < b else (1 if a == b else 0)

    from collections import Counter

    cnt = Counter(pts)
    assert set(out) == set(cnt)
    xs = sorted(a for a, _ in pts)
    ys = sorted(b for _, b in pts)

    def mid2(vals, v):
        below = sum(1 for u in vals if u < v)
        ties = sum(1 for u in vals if u == v)
        return 2 * below + ties + 1

    for (a, b), r in out.items():
        q4 = sum(phi(u, a) * phi(v, b) for u, v in pts)
        assert r["q4"] == q4, (a, b)
        assert r["c"] == cnt[(a, b)]
        assert r["r2"] == mid2(xs, a)
        assert r["s2"] == mid2(ys, b)

    # no-ties comonotone: point i has exactly i strictly-smaller points
    # in both coords; q4 = 4*i + 1 (the self phi*phi term)
    mono = [(i, 10 * i) for i in range(12)]
    dfm = spark.createDataFrame(mono, "x long, y long")
    got = {r["x"]: r["q4"] for r in hoeffding_d_cells(dfm, "x", "y").collect()}
    for i in range(12):
        assert got[i] == 4 * i + 1


def test_aalen_johansen_hand_example(spark):
    """5 subjects, 2 causes: t=1 cause A (n_risk 5); t=2 censored (no
    row); t=3 cause B and cause A tie at the same time (n_risk 3);
    t=4 censored (no row)."""
    from npm_mirror_spark.operators.temporal import aalen_johansen_cells

    rows = [
        ("g", 1, 1, "A"),
        ("g", 2, 0, None),
        ("g", 3, 1, "B"),
        ("g", 3, 1, "A"),
        ("g", 4, 0, "ignored-on-censored"),
    ]
    df = spark.createDataFrame(rows, "g string, t int, e int, k string")
    out = aalen_johansen_cells(df, "g", "t", "e", "k").collect()
    got = {(r["t"], r["k"]): r for r in out}
    assert set(got) == {(1, "A"), (3, "A"), (3, "B")}
    assert got[(1, "A")]["n_risk"] == 5 and got[(1, "A")]["d_cause"] == 1
    assert got[(3, "A")]["n_risk"] == 3 and got[(3, "A")]["d"] == 2
    assert got[(3, "B")]["d_cause"] == 1 and got[(3, "B")]["c"] == 0
    # risk sets and totals agree with km_cells on the same data
    from npm_mirror_spark.operators.temporal import km_cells

    km = {r["t"]: r for r in km_cells(df, "g", "t", "e").collect()}
    for (t, _), r in got.items():
        assert r["n_risk"] == km[t]["n_risk"] and r["d"] == km[t]["d"]


def test_aalen_johansen_cause_sums_and_guards(spark):
    """Structural identity Sigma_k d_cause = d per (g, t); event rows
    with NULL cause drop; non-binary events raise (the km guard)."""
    import random

    import pytest

    from npm_mirror_spark.operators.temporal import aalen_johansen_cells

    rng = random.Random(23)
    rows = []
    for i in range(120):
        e = rng.randint(0, 1)
        k = rng.choice(["A", "B", "C"]) if e else None
        rows.append((f"g{i % 2}", rng.randint(1, 8), e, k))
    rows.append(("g0", 3, 1, None))  # event with NULL cause: dropped
    df = spark.createDataFrame(rows, "g string, t int, e int, k string")
    out = aalen_johansen_cells(df, "g", "t", "e", "k").collect()
    by_gt: dict[tuple, list] = {}
    for r in out:
        by_gt.setdefault((r["g"], r["t"]), []).append(r)
    for (g, t), cells in by_gt.items():
        assert sum(r["d_cause"] for r in cells) == cells[0]["d"], (g, t)
    bad = spark.createDataFrame([("g", 1, 2, "A")], "g string, t int, e int, k string")
    with pytest.raises(Exception, match="must be 0/1"):
        aalen_johansen_cells(bad, "g", "t", "e", "k").collect()
