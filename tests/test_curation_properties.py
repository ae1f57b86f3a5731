"""Property-based tests for the curation/funnel operators: invariants
that must hold on ARBITRARY inputs, checked against brute-force Python
reference implementations on small random corpora."""

from __future__ import annotations

import pytest as _pytest

# slow tier (r15, r14 verdict item 1): algorithm re-derivation /
# brute-force sweep suite — guards development-time regressions,
# not per-round results.  Runs with --runslow / SPARK_GRAFT_SLOW_TESTS=1.
pytestmark = _pytest.mark.slow


from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from npm_mirror_spark.operators.aggregates import funnel_stages
from npm_mirror_spark.operators.curation import pack_sequences, stratified_sample

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=40),
    cap=st.integers(min_value=5, max_value=50),
)
def test_pack_sequences_covers_exactly(spark, toks, cap):
    """Offsets tile the shard contiguously (no gaps, no overlap) and every
    block range is consistent with the offset arithmetic."""
    df = spark.createDataFrame(
        [("s", i, n) for i, n in enumerate(toks)], "shard string, id long, n int"
    )
    rows = sorted(
        pack_sequences(df, "n", "shard", "id", cap).collect(),
        key=lambda r: r["id"],
    )
    expected_offset = 0
    for r in rows:
        assert r["offset"] == expected_offset
        assert r["first_block"] == r["offset"] // cap
        assert r["last_block"] == (r["offset"] + r["n"] - 1) // cap
        expected_offset += r["n"]


@settings(**_SETTINGS)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True
    ),
    rate=st.floats(min_value=0.0, max_value=1.0),
)
def test_stratified_sample_matches_reference_hash(spark, ids, rate):
    """The kept set equals the brute-force Python evaluation of the same
    threshold rule — sampling is a pure deterministic function of id."""
    df = spark.createDataFrame([(i, "x") for i in ids], "id long, s string")
    kept = {
        r["id"] for r in stratified_sample(df, "s", {"x": rate}, "id").collect()
    }
    expected = {i for i in ids if (i * 2654435761) % 1000 < int(rate * 1000)}
    assert kept == expected


_STEPS = ["a", "b", "c"]


def _ref_funnel(events):
    """Brute-force reference: sort by (ts, type), run the strict-after
    machine per user."""
    out = {}
    by_user: dict[int, list] = {}
    for u, ts, et in events:
        by_user.setdefault(u, []).append((ts, et))
    for u, evs in by_user.items():
        stage, last = 0, None
        for ts, et in sorted(evs):
            if stage < len(_STEPS) and et == _STEPS[stage] and (
                stage == 0 or ts > last
            ):
                stage, last = stage + 1, ts
        out[u] = stage
    return out


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # user
            st.integers(min_value=0, max_value=30),  # minute
            st.sampled_from(_STEPS + ["noise"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_funnel_matches_bruteforce(spark, events):
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, t0 + timedelta(minutes=m), et) for (u, m, et) in events],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r["user_id"]: r["stage"]
        for r in funnel_stages(df, "user_id", "ts", "event_type", _STEPS).collect()
    }
    ref = _ref_funnel(
        [(u, t0 + timedelta(minutes=m), et) for (u, m, et) in events if et in _STEPS]
    )
    assert got == ref


def test_banded_pairs_equals_naive_enumeration(spark):
    """The (band, key) equi-join trick must yield EXACTLY the naive
    pair set {(a,b): key match, 0 < b-a <= w} — no pair lost at band
    boundaries, none double-counted by the own+neighbor emission."""
    import random

    from pyspark.sql import functions as F

    from npm_mirror_spark.faces import banded_pairs

    rng = random.Random(42)
    rows = [
        (i, rng.choice(["en", "de", "fr"]))
        for i in sorted(rng.sample(range(300), 120))
    ]
    df = spark.createDataFrame(rows, "id long, lang string")
    a = df.select(F.col("id").alias("id_a"), F.col("lang").alias("__la"))
    b = df.select(F.col("id").alias("id_b"), F.col("lang").alias("__lb"))
    got = {
        (r["id_a"], r["id_b"])
        for r in banded_pairs(a, b, width=20, extra_keys=[("__la", "__lb")])
        .select("id_a", "id_b")
        .collect()
    }
    want = {
        (i, j)
        for i, li in rows
        for j, lj in rows
        if li == lj and 0 < j - i <= 20
    }
    assert got == want
    # and once more at a width that divides ids exactly (boundary stress)
    got10 = {
        (r["id_a"], r["id_b"])
        for r in banded_pairs(a, b, width=10, extra_keys=[("__la", "__lb")])
        .select("id_a", "id_b")
        .collect()
    }
    want10 = {
        (i, j) for i, li in rows for j, lj in rows if li == lj and 0 < j - i <= 10
    }
    assert got10 == want10


def _brute_span_analysis(docs: dict[int, str], l: int):
    """Pure-Python reference for dup_spans/cut_dup_spans: direct coverage
    unions instead of window algebra — an independent derivation of the
    same semantics."""
    toks = {d: t.lower().split() for d, t in docs.items()}
    grams = {}
    for d, w in toks.items():
        if len(w) >= l:
            grams[d] = [" ".join(w[i : i + l]) for i in range(len(w) - l + 1)]
        else:
            grams[d] = [" ".join(w)]
    carriers: dict[str, set[int]] = {}
    for d, gs in grams.items():
        for g in gs:
            carriers.setdefault(g, set()).add(d)

    def coverage(d, positions):
        n = len(toks[d])
        cov = set()
        for p in positions:
            cov.update(range(p, min(p + l - 1, n - 1) + 1))
        return cov

    def runs(cov):
        out, cur = [], None
        for i in sorted(cov):
            if cur is None or i > cur[1] + 1:
                cur = [i, i]
                out.append(cur)
            else:
                cur[1] = i
        return out

    spans, cuts = {}, {}
    for d, gs in grams.items():
        dup_cov = coverage(
            d, [p for p, g in enumerate(gs) if len(carriers[g]) >= 2]
        )
        rr = runs(dup_cov)
        spans[d] = (
            len(toks[d]),
            len(rr),
            len(dup_cov),
            max((b - a + 1 for a, b in rr), default=0),
        )
        cut_cov = coverage(
            d, [p for p, g in enumerate(gs) if min(carriers[g]) < d]
        )
        kept = [w for i, w in enumerate(toks[d]) if i not in cut_cov]
        cuts[d] = " ".join(kept)
    return spans, cuts


@settings(**_SETTINGS)
@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_span_operators_match_bruteforce(spark, corpus):
    from npm_mirror_spark.operators.dedup import cut_dup_spans, dup_spans

    docs = {i: " ".join(ws) for i, ws in enumerate(corpus)}
    spans_ref, cuts_ref = _brute_span_analysis(docs, l=3)
    df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    got_spans = {r["doc_id"]: r for r in dup_spans(df, l=3).collect()}
    for d, (n, n_spans, dup_toks, max_span) in spans_ref.items():
        r = got_spans[d]
        assert (
            r["n_tokens"],
            r["n_dup_spans"],
            r["dup_tokens"],
            r["max_span_tokens"],
        ) == (n, n_spans, dup_toks, max_span), (d, docs)
    got_cuts = {r["doc_id"]: r["clean_text"] for r in cut_dup_spans(df, l=3).collect()}
    assert got_cuts == cuts_ref, docs


def test_canonicalize_url_is_idempotent(spark):
    """canon(canon(u)) == canon(u) — a canonical form must be a
    fixpoint, over a generated mix of schemes, ports, params, paths
    and junk."""
    from pyspark.sql import functions as F

    from npm_mirror_spark.operators.curation import canonicalize_url

    import random

    rng = random.Random(13)
    parts_scheme = ["http", "HTTPS", "Http"]
    parts_host = ["A.com", "sub.Site.ORG:443", "x.io:80", "y.net:8080"]
    parts_path = ["", "/", "/P/q", "/a&utm_x=1/b", "/deep/Path"]
    parts_q = ["", "?a=1", "?utm_a=1", "?utm_a=1&b=2", "?b=2&gclid=z&c=3",
               "?fbclid=1&utm_b=2"]
    parts_frag = ["", "#x", "#frag?y=1"]
    urls = [
        rng.choice(parts_scheme) + "://" + rng.choice(parts_host)
        + rng.choice(parts_path) + rng.choice(parts_q) + rng.choice(parts_frag)
        for _ in range(200)
    ] + ["not a url", "", "ftp://weird:21/x?utm_a=1"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        canonicalize_url("url").alias("c1"),
    ).select(
        "c1", canonicalize_url("c1").alias("c2")
    ).collect()
    for r in rows:
        assert r["c1"] == r["c2"], r


def test_filter_lines_is_idempotent(spark):
    """Re-filtering already-clean text must be a no-op: every surviving
    line already satisfies all three rules."""
    from npm_mirror_spark.operators.text import filter_lines

    docs = spark.createDataFrame(
        [
            (1, "Good line stays right here.\nbad\nAnother solid line here.\n"
                "no punct line at all\nPlease accept cookie terms."),
            (2, "short.\n\n\nOnly one real line survives this one."),
        ],
        "doc_id long, text string",
    )
    once = filter_lines(docs).withColumnRenamed("clean_text", "text")
    twice = filter_lines(once.select("doc_id", "text"))
    a = {r["doc_id"]: r["clean_text"] for r in once.withColumnRenamed("text", "clean_text").collect()}
    b = {r["doc_id"]: (r["clean_text"], r["n_lines"], r["kept_lines"]) for r in twice.collect()}
    for k in a:
        assert b[k][0] == a[k], k
        assert b[k][1] == b[k][2], "every line must survive the second pass"
