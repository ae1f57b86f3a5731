"""Faces built on ``operators/checks.py``: association, agreement and
audit statistics, each next to its DuckDB oracle.  The rater faces share
the three-rater helpers defined here."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from npm_mirror_spark.faces import (
    DAILY_SQL,
    NORM,
    daily_counts,
    docs_with_dups,
    nodec,
)
from npm_mirror_spark.operators import similarity as sim_ops
from npm_mirror_spark.operators import text as text_ops
from npm_mirror_spark.tables import load_table as _t


def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma between line number and quantity — the
    signed ordinal association chi-square is blind to.
    (operators/checks.py gk_gamma.)"""
    from npm_mirror_spark.operators.checks import gk_gamma

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("ln"),
        # floor, not a bare cast — see q_jonckheere
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return gk_gamma(li, "ln", "qty")


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over k paired binary outcomes: blocks = days,
    treatments = event types, success = the day's count for that type
    above the GLOBAL daily mean (cross-multiplied integer test
    n * n_cells > total, so no division enters) — did any type's
    above-average days cluster differently?  (operators/checks.py
    cochran_q_cells.)"""
    from npm_mirror_spark.operators.checks import cochran_q_cells

    daily = daily_counts(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).alias("__cells"),
        F.sum("n").alias("__total"),
    )
    flagged = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "t",
        (
            F.col("n").cast("decimal(38,0)") * F.col("__cells").cast("decimal(38,0)")
            > F.col("__total").cast("decimal(38,0)")
        ).alias("succ"),
    )
    return cochran_q_cells(flagged, "d", "t", "succ")


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture estimate of the TRUE near-dup pair
    count from two independent detectors — MinHash/LSH vs SimHash
    blocking over the dup-injected corpus (the q_minhash_pairs /
    q_simhash_pairs fixtures): the dedup-recall audit neither method
    alone can give.  (operators/checks.py capture_recapture.)
    Independence caveat: the two signatures share normalization, so
    the estimate is a lower-bound-leaning audit number, not a census.
    """
    from npm_mirror_spark.operators.checks import capture_recapture
    from npm_mirror_spark.operators.dedup import (
        minhash_candidate_pairs,
        simhash_pairs,
    )

    # Deliberately NOT persisting the shared corpus subplan: a measured
    # A/B (docs/BENCH_NOTES.md r13) showed zero wall-clock change at
    # sf0.1 — the face's cost lives in the banding-join shuffles, not
    # the duplicated scans — and at 100 TB a corpus-sized cache write
    # costs more than the pruned parquet re-scan it saves.  The pair
    # sets (tiny, consumed twice) ARE persisted inside
    # capture_recapture.
    docs = docs_with_dups(spark, sf_dir)
    m = minhash_candidate_pairs(docs, "text", "doc_id", num_hashes=8, bands=4)
    s = simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    return capture_recapture(m, s)


def _capture_recapture_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the existing (already driver-green) minhash/simhash pair
    oracles into the capture-recapture replay — the two pair sets are
    replayed by the exact SQL the registry already verifies, nested as
    CTE subqueries, so this face's oracle can never drift from the
    registered fixtures'."""
    return f"""
WITH m AS ({ORACLES["q_minhash_pairs"]}),
s AS ({ORACLES["q_simhash_pairs"]}),
ma AS (SELECT DISTINCT id_a, id_b FROM m),
sb AS (SELECT DISTINCT id_a, id_b FROM s),
na AS (SELECT count(*) AS n_a FROM ma),
nb AS (SELECT count(*) AS n_b FROM sb),
ov AS (SELECT count(*) AS o FROM ma JOIN sb USING (id_a, id_b))
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(o AS BIGINT) AS overlap,
  CAST(CAST(n_a + 1 AS HUGEINT) * (n_b + 1) AS DOUBLE)
    / CAST(o + 1 AS DOUBLE) - 1.0 AS chapman_est
FROM na CROSS JOIN nb CROSS JOIN ov
"""


_GK_GAMMA_SQL = """
WITH g AS (
  SELECT l_linenumber AS x, CAST(floor(l_quantity) AS BIGINT) AS y
  FROM lineitem WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
),
cells AS (SELECT x, y, count(*) AS c FROM g GROUP BY x, y),
pairs AS (
  SELECT CAST(a.c AS HUGEINT) * b.c AS p,
    a.y < b.y AS conc, a.y > b.y AS disc
  FROM cells a JOIN cells b ON a.x < b.x
),
tot AS (
  SELECT coalesce(sum(CASE WHEN conc THEN p ELSE 0 END), 0) AS cc,
         coalesce(sum(CASE WHEN disc THEN p ELSE 0 END), 0) AS dd
  FROM pairs
)
SELECT (SELECT count(*) FROM g) AS n_rows,
  (SELECT count(*) FROM cells) AS n_cells,
  CAST(cc AS DOUBLE) AS concordant,
  CAST(dd AS DOUBLE) AS discordant,
  CASE WHEN cc + dd > 0
       THEN CAST(cc - dd AS DOUBLE) / CAST(cc + dd AS DOUBLE) END AS gamma
FROM tot
"""


_COCHRAN_Q_SQL = f"""
WITH {DAILY_SQL},
gtot AS (SELECT count(*) AS cells, sum(CAST(n AS HUGEINT)) AS total FROM daily),
flagged AS (
  SELECT d, t,
    CASE WHEN CAST(n AS HUGEINT) * gtot.cells > gtot.total
         THEN 1 ELSE 0 END AS s
  FROM daily CROSS JOIN gtot
),
k AS (SELECT count(DISTINCT t) AS k FROM flagged),
per_b AS (
  SELECT d, count(*) AS nr, count(DISTINCT t) AS nt, sum(s) AS bs
  FROM flagged GROUP BY d
),
complete AS (
  SELECT d, bs FROM per_b
  WHERE nr = (SELECT k FROM k) AND nt = (SELECT k FROM k)
),
gc AS (SELECT f.* FROM flagged f JOIN complete USING (d)),
per_t AS (SELECT t, sum(CAST(s AS HUGEINT)) AS tj FROM gc GROUP BY t),
bsums AS (
  SELECT count(*) AS n_blocks,
    sum(CAST(bs AS HUGEINT)) AS sb,
    sum(CAST(bs AS HUGEINT) * bs) AS sb2
  FROM complete
),
tsums AS (
  SELECT count(*) AS k_treatments,
    sum(tj) AS g, sum(tj * tj) AS t2
  FROM per_t
)
SELECT t,
  CAST(tj AS DOUBLE) AS t_j,
  k_treatments,
  n_blocks,
  CAST(sb AS DOUBLE) AS sum_b,
  CAST(sb2 AS DOUBLE) AS sum_b2,
  CASE WHEN CAST(k_treatments AS HUGEINT) * sb - sb2 > 0
       THEN CAST((CAST(k_treatments AS HUGEINT) - 1)
                 * (CAST(k_treatments AS HUGEINT) * t2 - g * g) AS DOUBLE)
            / CAST(CAST(k_treatments AS HUGEINT) * sb - sb2 AS DOUBLE)
       END AS q_stat
FROM per_t CROSS JOIN bsums CROSS JOIN tsums
ORDER BY t
"""


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel stratified 2x2 cells: does a line being RETURNED
    (exposure) associate with it being a LARGE order line (quantity >
    25, outcome), within line-number strata?  The confounder-adjusted
    association the pooled q_chisq cannot give (Simpson's paradox
    bait).  OR_MH = sum(mh_num)/sum(mh_den) and the CMH chi-square are
    consumer one-liners over this bounded table.  (operators/checks.py
    mantel_haenszel_cells.)"""
    from npm_mirror_spark.operators.checks import mantel_haenszel_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("ln"),
        (F.col("l_returnflag") == "R").alias("ret"),
        (F.col("l_quantity") > 25).alias("big"),
    )
    return mantel_haenszel_cells(
        li, "ln", exposed=F.col("ret"), outcome=F.col("big")
    )


_MH_SQL = """
WITH g AS (
  SELECT l_linenumber AS ln,
         coalesce(l_returnflag = 'R', FALSE) AS x,
         coalesce(l_quantity > 25, FALSE) AS y
  FROM lineitem WHERE l_linenumber IS NOT NULL
),
per AS (
  SELECT ln,
    sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS a,
    sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS b,
    sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS c,
    sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS d,
    count(*) AS n
  FROM g GROUP BY ln
)
SELECT ln, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
  CAST(n AS BIGINT) AS n,
  CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS mh_num,
  CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS mh_den
FROM per ORDER BY ln
"""


def q_digit_pref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digit preference audit of order totals — the terminal-digit
    companion to q_benford's first-digit screen: rounding habits and
    fabricated amounts spike specific last digits where organic
    measurements stay ~uniform.  (operators/checks.py
    digit_preference_cells.)"""
    from npm_mirror_spark.operators.checks import digit_preference_cells

    o = _t(spark, sf_dir, "orders")
    return digit_preference_cells(o, "o_totalprice")


_DIGIT_SQL = """
WITH d AS (
  SELECT CAST(abs(CAST(trunc(o_totalprice) AS BIGINT)) % 10 AS INTEGER)
    AS digit
  FROM orders WHERE o_totalprice IS NOT NULL
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT count(*) AS tt FROM d),
axis AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) AS digit),
f AS (
  SELECT axis.digit, coalesce(c.n, 0) AS n, t.tt
  FROM axis CROSS JOIN t LEFT JOIN c ON axis.digit = c.digit
)
SELECT digit, CAST(n AS BIGINT) AS n,
  CAST(10 * n - tt AS BIGINT) AS dev_x10,
  CAST((10 * n - tt) * (10 * n - tt) AS BIGINT) AS sq_dev_x100
FROM f ORDER BY digit
"""


def q_hoeffding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding's D independence cells between line number and
    quantity — consistent against ANY dependence shape, where
    q_spearman/q_kendall_tau only see monotone association and q_chisq
    needs categories.  (operators/checks.py hoeffding_d_cells; the
    jonckheere/gamma 2-D dominance grid, so both axes ride the
    ordinal-domain contract.)"""
    from npm_mirror_spark.operators.checks import hoeffding_d_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("ln"),
        # floor, not a bare cast — the q_jonckheere cross-engine guard
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return hoeffding_d_cells(li, "ln", "qty")


_HOEFFDING_SQL = """
WITH g AS (
  SELECT l_linenumber AS x, CAST(floor(l_quantity) AS BIGINT) AS y
  FROM lineitem
  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
),
cells AS (SELECT x, y, count(*) AS c FROM g GROUP BY 1, 2),
xa AS (SELECT DISTINCT x FROM cells),
ya AS (SELECT DISTINCT y FROM cells),
grid AS (
  SELECT xa.x, ya.y, coalesce(cells.c, 0) AS c
  FROM xa CROSS JOIN ya
  LEFT JOIN cells ON cells.x = xa.x AND cells.y = ya.y
),
pre AS (
  SELECT x, y, c,
    coalesce(sum(c) OVER (PARTITION BY x ORDER BY y
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS el,
    coalesce(sum(c) OVER (PARTITION BY y ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS le
  FROM grid
),
f AS (
  SELECT x, y, c,
    4 * coalesce(sum(el) OVER (PARTITION BY y ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + 2 * le + 2 * el + c AS q4
  FROM pre
),
xm AS (
  SELECT x,
    2 * coalesce(sum(cx) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cx + 1
      AS r2
  FROM (SELECT x, sum(c) AS cx FROM cells GROUP BY x)
),
ym AS (
  SELECT y,
    2 * coalesce(sum(cy) OVER (ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cy + 1
      AS s2
  FROM (SELECT y, sum(c) AS cy FROM cells GROUP BY y)
)
SELECT f.x AS ln, f.y AS qty, CAST(f.c AS BIGINT) AS c,
  CAST(xm.r2 AS BIGINT) AS r2, CAST(ym.s2 AS BIGINT) AS s2,
  CAST(f.q4 AS BIGINT) AS q4
FROM f JOIN xm ON f.x = xm.x JOIN ym ON f.y = ym.y
WHERE f.c > 0
ORDER BY ln, qty
"""


def q_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D / tau-b / gamma with the full tie decomposition: does
    a MORE urgent order priority come with MORE lineitems?  x = the
    o_orderpriority string (ordinal by its leading digit = its
    lexicographic order, the q_order_priority_check convention), y =
    the order's lineitem count (1..7 by construction) — orders with no
    lineitems drop with the inner join.  (operators/checks.py
    ordinal_assoc_cells; somers_dyx here reads "does priority predict
    line count".)"""
    from npm_mirror_spark.operators.checks import ordinal_assoc_cells

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    nl = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nlines"))
    j = o.join(nl, o["o_orderkey"] == nl["l_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"), "nlines"
    )
    return ordinal_assoc_cells(j, "prio", "nlines")


def q_tau_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart's tau-c (with the rest of the concordance family) on a
    deliberately RECTANGULAR grid — part size (1..50) vs retail-price
    decade (floor(p_retailprice/10), ~10 buckets): tau-b cannot reach
    +/-1 on a 50x10 table; tau-c's 2m/(n^2(m-1)) scaling corrects for
    exactly that, which is what this face demonstrates next to
    q_somers_d's near-square grid.  (operators/checks.py
    ordinal_assoc_cells.)"""
    from npm_mirror_spark.operators.checks import ordinal_assoc_cells

    p = _t(spark, sf_dir, "part").select(
        F.col("p_size").alias("size"),
        F.floor(F.col("p_retailprice") / 10).cast("long").alias("decade"),
    )
    return ordinal_assoc_cells(p, "size", "decade")


# shared SQL: the exact dominance + tie decomposition replay (the
# q_gk_gamma oracle's cells-level pair join, extended with margins)
def _assoc_sql(src: str) -> str:
    return f"""
WITH g AS ({src}),
cells AS (SELECT x, y, count(*) AS c FROM g GROUP BY x, y),
pairs AS (
  SELECT CAST(a.c AS HUGEINT) * b.c AS p,
    a.y < b.y AS conc, a.y > b.y AS disc
  FROM cells a JOIN cells b ON a.x < b.x
),
tot AS (
  SELECT coalesce(sum(CASE WHEN conc THEN p ELSE 0 END), 0) AS cc,
         coalesce(sum(CASE WHEN disc THEN p ELSE 0 END), 0) AS dd
  FROM pairs
),
tx AS (
  SELECT coalesce(sum((CAST(nx AS HUGEINT) * (nx - 1)) // 2), 0) AS t
  FROM (SELECT sum(c) AS nx FROM cells GROUP BY x)
),
ty AS (
  SELECT coalesce(sum((CAST(ny AS HUGEINT) * (ny - 1)) // 2), 0) AS t
  FROM (SELECT sum(c) AS ny FROM cells GROUP BY y)
),
txy AS (
  SELECT coalesce(sum((CAST(c AS HUGEINT) * (c - 1)) // 2), 0) AS t,
         count(*) AS n_cells
  FROM cells
),
dims AS (
  SELECT count(DISTINCT x) AS dx, count(DISTINCT y) AS dy FROM cells
),
meta AS (SELECT count(*) AS n_rows FROM g),
one AS (
  SELECT n_rows, n_cells, dx, dy, cc, dd,
    tx.t AS txv, ty.t AS tyv, txy.t AS txyv,
    (CAST(n_rows AS HUGEINT) * (n_rows - 1)) // 2 AS p,
    cc - dd AS s,
    least(dx, dy) AS m
  FROM meta, tot, tx, ty, txy, dims
)
SELECT n_rows, CAST(n_cells AS BIGINT) AS n_cells,
  CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy,
  CAST(p AS DOUBLE) AS pairs_total,
  CAST(cc AS DOUBLE) AS concordant,
  CAST(dd AS DOUBLE) AS discordant,
  CAST(txv - txyv AS DOUBLE) AS tied_x_only,
  CAST(tyv - txyv AS DOUBLE) AS tied_y_only,
  CAST(txyv AS DOUBLE) AS tied_xy,
  CASE WHEN cc + dd > 0
       THEN CAST(s AS DOUBLE) / CAST(cc + dd AS DOUBLE) END AS gamma,
  CASE WHEN p - txv > 0
       THEN CAST(s AS DOUBLE) / CAST(p - txv AS DOUBLE) END AS somers_dyx,
  CASE WHEN p - tyv > 0
       THEN CAST(s AS DOUBLE) / CAST(p - tyv AS DOUBLE) END AS somers_dxy,
  CASE WHEN p - txv > 0 AND p - tyv > 0
       THEN CAST(s AS DOUBLE) / sqrt(CAST((p - txv) * (p - tyv) AS DOUBLE))
       END AS tau_b,
  CASE WHEN m > 1 AND n_rows > 0
       THEN CAST(2 * CAST(m AS HUGEINT) * s AS DOUBLE)
            / CAST(CAST(n_rows AS HUGEINT) * n_rows * (m - 1) AS DOUBLE)
       END AS tau_c
FROM one
"""


_SOMERS_SQL = _assoc_sql(
    """
  SELECT o.o_orderpriority AS x, nl.nlines AS y
  FROM orders o
  JOIN (SELECT l_orderkey, count(*) AS nlines
        FROM lineitem GROUP BY l_orderkey) nl
    ON o.o_orderkey = nl.l_orderkey
  WHERE o.o_orderpriority IS NOT NULL
"""
)

_TAUC_SQL = _assoc_sql(
    """
  SELECT p_size AS x, CAST(floor(p_retailprice / 10) AS BIGINT) AS y
  FROM part WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
"""
)


def _doc_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic heuristic 'raters' each assigning every
    document a quality tier in {0, 1, 2} — the multi-rater fixture
    q_fleiss_kappa audits (how much do cheap heuristics agree beyond
    chance?): L = character-length tier, T = whitespace-token tier,
    P = sentence-period tier.  Fixed integer thresholds; docs with
    NULL text or n_chars are excluded up front so every kept doc has
    exactly 3 ratings."""
    from npm_mirror_spark.operators.text import ws_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    ).filter(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
    tier_l = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 1000, 1)
        .otherwise(2)
    )
    ntok = ws_token_count("text")
    tier_t = F.when(ntok < 40, 0).when(ntok < 200, 1).otherwise(2)
    nper = F.length("text") - F.length(F.regexp_replace("text", r"\.", ""))
    tier_p = F.when(nper < 2, 0).when(nper < 10, 1).otherwise(2)
    base = d.select("doc_id", tier_l.alias("__l"), tier_t.alias("__t"),
                    tier_p.alias("__p"))
    return (
        base.select("doc_id", F.col("__l").alias("tier"))
        .unionByName(base.select("doc_id", F.col("__t").alias("tier")))
        .unionByName(base.select("doc_id", F.col("__p").alias("tier")))
    )


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across three deterministic quality heuristics
    (length / token / sentence tiers, :func:`_doc_raters`) voting on
    every document — the multi-rater labeling-pipeline audit
    :func:`~npm_mirror_spark.operators.checks.cohens_kappa` (two
    raters) cannot express.  (operators/checks.py
    fleiss_kappa_cells.)"""
    from npm_mirror_spark.operators.checks import fleiss_kappa_cells

    return fleiss_kappa_cells(_doc_raters(spark, sf_dir), "doc_id", "tier", 3)


# the three raters replayed in SQL.  Token count replays ws_token_count
# = size(split(norm, ' ')) — COUNTING empty-string tokens like Spark's
# split on an empty normalized string (len('') -> ['']) -- len of
# str_split is identical in DuckDB.
_RATERS_SQL = f"""
src AS (
  SELECT doc_id, text, n_chars, {NORM} AS norm,
    length(text) - length(replace(text, '.', '')) AS nper
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
),
tiers AS (
  SELECT doc_id,
    CASE WHEN n_chars < 200 THEN 0
         WHEN n_chars < 1000 THEN 1 ELSE 2 END AS tl,
    CASE WHEN len(str_split(norm, ' ')) < 40 THEN 0
         WHEN len(str_split(norm, ' ')) < 200 THEN 1 ELSE 2 END AS tt,
    CASE WHEN nper < 2 THEN 0
         WHEN nper < 10 THEN 1 ELSE 2 END AS tp
  FROM src
),
ratings AS (
  SELECT doc_id, tl AS tier FROM tiers
  UNION ALL SELECT doc_id, tt FROM tiers
  UNION ALL SELECT doc_id, tp FROM tiers
)
"""

_FLEISS_SQL = f"""
WITH {_RATERS_SQL},
nij AS (
  SELECT doc_id, tier, count(*) AS nij FROM ratings GROUP BY doc_id, tier
),
per_subj AS (
  SELECT doc_id, sum(nij) AS cnt,
         sum(CAST(nij AS HUGEINT) * nij) AS q
  FROM nij GROUP BY doc_id
),
complete AS (SELECT * FROM per_subj WHERE cnt = 3),
dropped AS (
  SELECT count(*) AS n_dropped FROM per_subj WHERE cnt != 3
),
qn AS (
  SELECT count(*) AS n_subjects, coalesce(sum(q), 0) AS q_sum FROM complete
),
cj AS (
  SELECT tier, sum(nij.nij) AS cj
  FROM nij JOIN complete USING (doc_id) GROUP BY tier
),
ssum AS (
  SELECT count(*) AS n_categories,
         coalesce(sum(CAST(cj AS HUGEINT) * cj), 0) AS s_sum
  FROM cj
),
one AS (
  SELECT n_subjects, n_categories, n_dropped, q_sum, s_sum,
    CAST(n_subjects AS HUGEINT) * 3 AS t
  FROM qn, ssum, dropped
)
SELECT CAST(n_subjects AS BIGINT) AS n_subjects,
  3 AS n_raters,
  CAST(n_categories AS BIGINT) AS n_categories,
  CAST(n_dropped AS BIGINT) AS n_dropped,
  CAST(q_sum AS DOUBLE) AS q_sum,
  CAST(s_sum AS DOUBLE) AS s_sum,
  CASE WHEN n_subjects > 0
       THEN CAST(q_sum - t AS DOUBLE) / CAST(t * 2 AS DOUBLE) END AS p_bar,
  CASE WHEN n_subjects > 0
       THEN CAST(s_sum AS DOUBLE) / CAST(t * t AS DOUBLE) END AS p_e,
  CASE WHEN 2 * (t * t - s_sum) != 0
       THEN CAST((q_sum - t) * t - s_sum * 2 AS DOUBLE)
            / CAST(2 * (t * t - s_sum) AS DOUBLE) END AS kappa
FROM one
"""


def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted Cohen's kappa between two ordinal document
    tiers on the SAME 0-3 scale — character-length tier (from the
    n_chars column) vs whitespace-token tier: near-miss disagreements
    (adjacent tiers) charged 1, opposite-end blunders 3.
    (operators/checks.py weighted_kappa_cells.)"""
    from npm_mirror_spark.operators.checks import weighted_kappa_cells
    from npm_mirror_spark.operators.text import ws_token_count

    d = _t(spark, sf_dir, "documents").select("text", "n_chars").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    tier_a = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 500, 1)
        .when(F.col("n_chars") < 1000, 2)
        .otherwise(3)
    )
    ntok = ws_token_count("text")
    tier_b = (
        F.when(ntok < 40, 0)
        .when(ntok < 100, 1)
        .when(ntok < 200, 2)
        .otherwise(3)
    )
    pair = d.select(tier_a.alias("a"), tier_b.alias("b"))
    return weighted_kappa_cells(pair, "a", "b")


_WKAPPA_SQL = f"""
WITH src AS (
  SELECT n_chars, {NORM} AS norm FROM documents
  WHERE text IS NOT NULL AND n_chars IS NOT NULL
),
pair AS (
  SELECT
    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 500 THEN 1
         WHEN n_chars < 1000 THEN 2 ELSE 3 END AS a,
    CASE WHEN len(str_split(norm, ' ')) < 40 THEN 0
         WHEN len(str_split(norm, ' ')) < 100 THEN 1
         WHEN len(str_split(norm, ' ')) < 200 THEN 2 ELSE 3 END AS b
  FROM src
),
cells AS (SELECT a, b, count(*) AS c FROM pair GROUP BY a, b),
do_ AS (
  SELECT coalesce(sum(CAST(abs(a - b) AS HUGEINT) * c), 0) AS d_o,
         coalesce(sum(c), 0) AS n, count(*) AS n_cells
  FROM cells
),
rm AS (SELECT a AS i, count(*) AS rm FROM pair GROUP BY a),
cm AS (SELECT b AS j, count(*) AS cm FROM pair GROUP BY b),
de AS (
  SELECT coalesce(sum(CAST(abs(i - j) AS HUGEINT)
                      * (CAST(rm AS HUGEINT) * cm)), 0) AS d_e_num
  FROM rm CROSS JOIN cm
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
  CAST(d_o AS DOUBLE) AS d_o,
  CAST(d_e_num AS DOUBLE) AS d_e_num,
  CASE WHEN d_e_num > 0
       THEN 1.0 - CAST(d_o * n AS DOUBLE) / CAST(d_e_num AS DOUBLE)
       END AS kappa_w
FROM do_, de
"""


def q_bowker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker symmetry cells over customer priority drift: each
    customer's FIRST order priority (by order date, orderkey
    tie-break) vs their LAST — are 'URGENT -> LOW' transitions as
    common as 'LOW -> URGENT'?  Single-order customers pair with
    themselves and drop with the diagonal; the per-pair chi terms sum
    (consumer-side) to Bowker's statistic.  (operators/checks.py
    bowker_cells.)"""
    from npm_mirror_spark.operators.checks import bowker_cells

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    ).filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderpriority").isNotNull()
    )
    w_first = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_last = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    ranked = o.select(
        "o_custkey",
        "o_orderpriority",
        F.row_number().over(w_first).alias("__rf"),
        F.row_number().over(w_last).alias("__rl"),
    )
    first = ranked.where(F.col("__rf") == 1).select(
        "o_custkey", F.col("o_orderpriority").alias("first_prio")
    )
    last = ranked.where(F.col("__rl") == 1).select(
        "o_custkey", F.col("o_orderpriority").alias("last_prio")
    )
    pair = first.join(last, "o_custkey")
    return bowker_cells(pair, "first_prio", "last_prio")


_BOWKER_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
),
ranked AS (
  SELECT o_custkey, o_orderpriority,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rf,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rl
  FROM o
),
pair AS (
  SELECT f.o_custkey, f.o_orderpriority AS a, l.o_orderpriority AS b
  FROM (SELECT * FROM ranked WHERE rf = 1) f
  JOIN (SELECT * FROM ranked WHERE rl = 1) l USING (o_custkey)
),
offd AS (SELECT a, b, count(*) AS c FROM pair WHERE a != b GROUP BY a, b),
up AS (SELECT a AS cat_lo, b AS cat_hi, c AS n_lo_hi FROM offd WHERE a < b),
down AS (SELECT b AS cat_lo, a AS cat_hi, c AS n_hi_lo FROM offd WHERE a > b),
j AS (
  SELECT coalesce(up.cat_lo, down.cat_lo) AS cat_lo,
         coalesce(up.cat_hi, down.cat_hi) AS cat_hi,
         coalesce(n_lo_hi, 0) AS n_lo_hi,
         coalesce(n_hi_lo, 0) AS n_hi_lo
  FROM up FULL OUTER JOIN down
    ON up.cat_lo = down.cat_lo AND up.cat_hi = down.cat_hi
)
SELECT cat_lo, cat_hi,
  CAST(n_lo_hi AS BIGINT) AS n_lo_hi,
  CAST(n_hi_lo AS BIGINT) AS n_hi_lo,
  CAST(n_lo_hi - n_hi_lo AS DOUBLE) * CAST(n_lo_hi - n_hi_lo AS DOUBLE)
    / CAST(n_lo_hi + n_hi_lo AS DOUBLE) AS chi_term
FROM j ORDER BY cat_lo, cat_hi
"""


def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1,1) reliability of the three heuristic document-quality
    raters (the q_fleiss_kappa panel read as NUMERIC tiers): how much
    of the tier variance is between documents rather than between
    heuristics?  (operators/checks.py icc_cells.)"""
    from npm_mirror_spark.operators.checks import icc_cells

    return icc_cells(_doc_raters(spark, sf_dir), "doc_id", "tier", 3)


def _icc_oracle() -> str:
    # replay the q_fleiss_kappa rater panel (_RATERS_SQL) as integer
    # values through the exact scaled-sum restatement
    return f"""
WITH {_RATERS_SQL},
per_s AS (
  SELECT doc_id, count(*) AS cnt,
    sum(CAST(tier AS HUGEINT)) AS si,
    sum(CAST(tier AS HUGEINT) * tier) AS qi
  FROM ratings GROUP BY doc_id
),
complete AS (SELECT * FROM per_s WHERE cnt = 3),
dropped AS (SELECT count(*) AS n_dropped FROM per_s WHERE cnt != 3),
folds AS (
  SELECT count(*) AS n_subjects,
    coalesce(sum(si), 0) AS s,
    coalesce(sum(si * si), 0) AS s2,
    coalesce(sum(qi), 0) AS q
  FROM complete
),
one AS (
  SELECT n_subjects, n_dropped,
    CAST(n_subjects AS HUGEINT) * s2 - s * s AS ssb,
    3 * q - s2 AS ssw
  FROM folds, dropped
)
SELECT CAST(n_subjects AS BIGINT) AS n_subjects,
  3 AS k_ratings,
  CAST(n_dropped AS BIGINT) AS n_dropped,
  CAST(ssb AS DOUBLE) AS ssb_xnk,
  CAST(ssw AS DOUBLE) AS ssw_xk,
  CASE WHEN ssb * 2 + 2 * (n_subjects - 1) * ssw != 0
       THEN CAST(ssb * 2 - ssw * (n_subjects - 1) AS DOUBLE)
            / CAST(ssb * 2 + 2 * (n_subjects - 1) * ssw AS DOUBLE)
       END AS icc
FROM one
"""


def q_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal lambda between document source and language —
    the nominal (unordered) association the registered q_gk_gamma
    cannot express: how much better does knowing the source predict
    the language's mode (and vice versa)?  (operators/checks.py
    gk_lambda.)"""
    from npm_mirror_spark.operators.checks import gk_lambda

    d = _t(spark, sf_dir, "documents").select("source", "lang")
    return gk_lambda(d, "source", "lang")


_GK_LAMBDA_SQL = """
WITH g AS (
  SELECT source AS x, lang AS y FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
),
cells AS (SELECT x, y, count(*) AS c FROM g GROUP BY x, y),
per_x AS (SELECT x, max(c) AS mx FROM cells GROUP BY x),
per_y AS (SELECT y, max(c) AS my, sum(c) AS ny FROM cells GROUP BY y),
per_x2 AS (SELECT x, sum(c) AS nx FROM cells GROUP BY x),
folds AS (
  SELECT
    (SELECT coalesce(sum(CAST(mx AS HUGEINT)), 0) FROM per_x) AS smx,
    (SELECT coalesce(sum(CAST(my AS HUGEINT)), 0) FROM per_y) AS smy,
    (SELECT coalesce(max(ny), 0) FROM per_y) AS maxny,
    (SELECT coalesce(max(nx), 0) FROM per_x2) AS maxnx,
    (SELECT sum(c) FROM cells) AS n_rows,
    (SELECT count(*) FROM cells) AS n_cells
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_cells AS BIGINT) AS n_cells,
  CAST(smx AS BIGINT) AS sum_max_y_given_x,
  CAST(maxny AS BIGINT) AS max_y_margin,
  CAST(smy AS BIGINT) AS sum_max_x_given_y,
  CAST(maxnx AS BIGINT) AS max_x_margin,
  CASE WHEN n_rows - maxny > 0
       THEN CAST(smx - maxny AS DOUBLE) / CAST(n_rows - maxny AS DOUBLE)
       END AS lambda_yx,
  CASE WHEN n_rows - maxnx > 0
       THEN CAST(smy - maxnx AS DOUBLE) / CAST(n_rows - maxnx AS DOUBLE)
       END AS lambda_xy
FROM folds
"""


def q_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's quadrant correlation between an order's lineitem
    count and its total price — the median-split dependence audit on
    the q_somers_d fixture axes, robust where q_spearman's full-rank
    machinery weighs every tail row.  (operators/checks.py
    blomqvist_beta_cells.)"""
    from npm_mirror_spark.operators.checks import blomqvist_beta_cells

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.floor(F.col("o_totalprice")).cast("long").alias("price")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    nl = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nlines"))
    j = o.join(nl, o["o_orderkey"] == nl["l_orderkey"]).select(
        "nlines", "price"
    )
    return blomqvist_beta_cells(j, "nlines", "price")


_BLOMQVIST_SQL = """
WITH j AS (
  SELECT nl.nlines, CAST(floor(o.o_totalprice) AS BIGINT) AS price
  FROM orders o
  JOIN (SELECT l_orderkey, count(*) AS nlines FROM lineitem
        GROUP BY l_orderkey) nl
    ON o.o_orderkey = nl.l_orderkey
),
vx AS (SELECT nlines AS v, count(*) AS c FROM j GROUP BY nlines),
cx AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM vx
),
mx AS (
  SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
       + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS med2
  FROM cx
),
vy AS (SELECT price AS v, count(*) AS c FROM j GROUP BY price),
cy AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM vy
),
my AS (
  SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
       + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS med2
  FROM cy
),
q AS (
  SELECT count(*) AS n_rows,
    sum(CASE WHEN 2 * CAST(nlines AS HUGEINT) = mx.med2
              OR 2 * CAST(price AS HUGEINT) = my.med2
             THEN 1 ELSE 0 END) AS n_on,
    sum(CASE WHEN 2 * CAST(nlines AS HUGEINT) > mx.med2
              AND 2 * CAST(price AS HUGEINT) > my.med2
             THEN 1 ELSE 0 END) AS n_pp,
    sum(CASE WHEN 2 * CAST(nlines AS HUGEINT) > mx.med2
              AND 2 * CAST(price AS HUGEINT) < my.med2
             THEN 1 ELSE 0 END) AS n_pm,
    sum(CASE WHEN 2 * CAST(nlines AS HUGEINT) < mx.med2
              AND 2 * CAST(price AS HUGEINT) > my.med2
             THEN 1 ELSE 0 END) AS n_mp,
    sum(CASE WHEN 2 * CAST(nlines AS HUGEINT) < mx.med2
              AND 2 * CAST(price AS HUGEINT) < my.med2
             THEN 1 ELSE 0 END) AS n_mm,
    max(CAST(mx.med2 AS DOUBLE)) AS med2_x,
    max(CAST(my.med2 AS DOUBLE)) AS med2_y
  FROM j CROSS JOIN mx CROSS JOIN my
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_on AS BIGINT) AS n_on,
  CAST(n_pp AS BIGINT) AS n_pp,
  CAST(n_pm AS BIGINT) AS n_pm,
  CAST(n_mp AS BIGINT) AS n_mp,
  CAST(n_mm AS BIGINT) AS n_mm,
  med2_x, med2_y,
  CASE WHEN n_pp + n_pm + n_mp + n_mm > 0
       THEN CAST(n_pp + n_mm - n_pm - n_mp AS DOUBLE)
            / CAST(n_pp + n_pm + n_mp + n_mm AS DOUBLE)
       END AS beta
FROM q
"""


def _raters_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _doc_raters panel with DETERMINISTIC missingness:
    the sentence-period rater skips every doc_id % 5 == 0 — the
    partial-panel fixture Krippendorff's alpha exists for (Fleiss
    would have to drop those units wholesale).  Tier thresholds are
    byte-identical to _doc_raters / _RATERS_SQL."""
    from npm_mirror_spark.operators.text import ws_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    ).filter(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
    tier_l = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 1000, 1)
        .otherwise(2)
    )
    ntok = ws_token_count("text")
    tier_t = F.when(ntok < 40, 0).when(ntok < 200, 1).otherwise(2)
    nper = F.length("text") - F.length(F.regexp_replace("text", r"\.", ""))
    tier_p = F.when(nper < 2, 0).when(nper < 10, 1).otherwise(2)
    base = d.select("doc_id", tier_l.alias("__l"), tier_t.alias("__t"),
                    tier_p.alias("__p"))
    return (
        base.select("doc_id", F.col("__l").alias("tier"))
        .unionByName(base.select("doc_id", F.col("__t").alias("tier")))
        .unionByName(
            base.filter(F.col("doc_id") % 5 != 0)
            .select("doc_id", F.col("__p").alias("tier"))
        )
    )


def q_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's nominal alpha over the heuristic quality-rater
    panel WITH missing ratings (the sentence rater skips every fifth
    doc) — the agreement audit q_fleiss_kappa cannot run without
    dropping those documents entirely.  (operators/checks.py
    krippendorff_alpha_cells.)"""
    from npm_mirror_spark.operators.checks import krippendorff_alpha_cells

    return krippendorff_alpha_cells(
        _raters_partial(spark, sf_dir), "doc_id", "tier"
    )


def _krippendorff_oracle() -> str:
    # replay the _RATERS_SQL tiers, with the sentence rater
    # skipping doc_id % 5 == 0 (the partial-panel fixture)
    return f"""
WITH {_RATERS_SQL},
partial AS (
  SELECT doc_id, tl AS tier FROM tiers
  UNION ALL SELECT doc_id, tt FROM tiers
  UNION ALL SELECT doc_id, tp FROM tiers WHERE doc_id % 5 != 0
),
uv AS (
  SELECT doc_id, tier, count(*) AS muc FROM partial
  GROUP BY doc_id, tier
),
per_u AS (
  SELECT doc_id, sum(muc) AS m,
    sum(muc * (muc - 1)) AS agree
  FROM uv GROUP BY doc_id
),
pairable AS (SELECT * FROM per_u WHERE m >= 2),
folds AS (
  SELECT count(*) AS n_units,
    coalesce(sum(m), 0) AS nr,
    coalesce(sum(CAST(m * (m - 1) - agree AS HUGEINT)
                 * (CASE WHEN m = 2 THEN 2 ELSE 1 END)), 0) AS d2
  FROM pairable
),
dropped AS (SELECT count(*) AS n_dropped FROM per_u WHERE m < 2),
margins AS (
  SELECT coalesce(sum(CAST(nc AS HUGEINT) * nc), 0) AS msq
  FROM (
    SELECT uv.tier, sum(uv.muc) AS nc
    FROM uv JOIN pairable ON uv.doc_id = pairable.doc_id
    GROUP BY uv.tier
  )
)
SELECT CAST(n_units AS BIGINT) AS n_units,
  CAST(n_dropped AS BIGINT) AS n_dropped,
  CAST(nr AS BIGINT) AS n_ratings,
  CAST(d2 AS DOUBLE) AS disagree_x2,
  CAST(msq AS DOUBLE) AS margin_sq_sum,
  CASE WHEN 2 * (CAST(nr AS HUGEINT) * nr - msq) > 0
       THEN 1.0 - CAST(CAST(nr AS HUGEINT) - 1 AS DOUBLE)
            * CAST(d2 AS DOUBLE)
            / CAST(2 * (CAST(nr AS HUGEINT) * nr - msq) AS DOUBLE)
       END AS alpha
FROM folds CROSS JOIN dropped CROSS JOIN margins
"""


def _week_weekday_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts keyed (ISO week start, weekday index 0-6 Monday) —
    the subjects-x-items panel for the weekday-profile reliability
    faces: weeks are subjects, weekdays are items.  Spark's weekday()
    (0 = Monday) replays in DuckDB as isodow - 1; date_trunc('week')
    is Monday-start in both engines."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    return o.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("wk"),
        F.weekday(F.col("day")).alias("wd"),
    ).agg(F.count(F.lit(1)).alias("n"))


def q_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha of the weekly weekday-volume profile — do
    weeks agree on how the 7 weekdays rank (a reliable seasonal
    pattern), read as internal consistency of the 7 'weekday items'
    across week 'subjects'?  The numeric-reliability companion to the
    lag-7 q_morans_i on the same calendar structure.  Incomplete weeks
    (fewer than 7 distinct weekdays with orders) are dropped by the
    completeness gate.  (operators/checks.py cronbach_alpha_cells.)"""
    from npm_mirror_spark.operators.checks import cronbach_alpha_cells

    return cronbach_alpha_cells(
        _week_weekday_counts(spark, sf_dir), "wk", "wd", "n"
    )


_WEEK_SQL = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
panel AS (
  SELECT CAST(date_trunc('week', day) AS DATE) AS wk,
    isodow(day) - 1 AS wd, n
  FROM daily
)
"""


_CRONBACH_SQL = f"""
WITH {_WEEK_SQL},
kf AS (SELECT count(DISTINCT wd) AS k FROM panel),
per_u AS (
  SELECT wk, count(*) AS nr, count(DISTINCT wd) AS ni,
    sum(CAST(n AS HUGEINT)) AS tu
  FROM panel GROUP BY wk
),
complete AS (
  SELECT per_u.* FROM per_u, kf WHERE nr = k AND ni = k
),
dropped AS (
  SELECT count(*) AS n_dropped FROM per_u, kf
  WHERE nr != k OR ni != k
),
gc AS (SELECT panel.* FROM panel JOIN complete USING (wk)),
items AS (
  SELECT count(*) AS k_items,
    coalesce(sum(nn * q - s * s), 0) AS ia
  FROM (
    SELECT CAST(count(*) AS HUGEINT) AS nn,
      sum(CAST(n AS HUGEINT)) AS s,
      sum(CAST(n AS HUGEINT) * n) AS q
    FROM gc GROUP BY wd
  )
),
totals AS (
  SELECT CAST(count(*) AS HUGEINT) AS nn,
    coalesce(sum(tu), 0) AS st,
    coalesce(sum(tu * tu), 0) AS qt
  FROM complete
)
SELECT CAST(totals.nn AS BIGINT) AS n_subjects,
  CAST(items.k_items AS BIGINT) AS k_items,
  CAST(dropped.n_dropped AS BIGINT) AS n_dropped,
  CAST(items.ia AS DOUBLE) AS item_var_sum_xn2,
  CAST(totals.nn * totals.qt - totals.st * totals.st AS DOUBLE)
    AS total_var_xn2,
  CASE WHEN items.k_items >= 2
        AND totals.nn * totals.qt - totals.st * totals.st > 0
       THEN CAST(items.k_items AS DOUBLE)
            / (CAST(items.k_items AS DOUBLE) - 1.0)
            * (1.0 - CAST(items.ia AS DOUBLE)
               / CAST(totals.nn * totals.qt - totals.st * totals.st
                      AS DOUBLE))
       END AS alpha
FROM totals, items, dropped
"""


def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 over the three heuristic quality raters — the
    prevalence-robust reading of the q_fleiss_kappa panel: when most
    documents share one tier, kappa's chance model collapses (the
    kappa paradox) while AC1 stays calibrated.  (operators/checks.py
    gwet_ac1_cells.)"""
    from npm_mirror_spark.operators.checks import gwet_ac1_cells

    return gwet_ac1_cells(_doc_raters(spark, sf_dir), "doc_id", "tier", 3)


def _gwet_oracle() -> str:
    return f"""
WITH {_RATERS_SQL},
uv AS (
  SELECT doc_id, tier, count(*) AS muc FROM ratings
  GROUP BY doc_id, tier
),
per_u AS (
  SELECT doc_id, sum(muc) AS m,
    sum(muc * (muc - 1)) AS agree
  FROM uv GROUP BY doc_id
),
complete AS (SELECT * FROM per_u WHERE m = 3),
dropped AS (SELECT count(*) AS n_dropped FROM per_u WHERE m != 3),
folds AS (
  SELECT CAST(count(*) AS HUGEINT) AS n_units,
    coalesce(sum(CAST(agree AS HUGEINT)), 0) AS ag
  FROM complete
),
margins AS (
  SELECT count(*) AS k_categories,
    coalesce(sum(CAST(nc AS HUGEINT) * nc), 0) AS msq
  FROM (
    SELECT uv.tier, sum(uv.muc) AS nc
    FROM uv JOIN complete ON uv.doc_id = complete.doc_id
    GROUP BY uv.tier
  )
)
SELECT CAST(folds.n_units AS BIGINT) AS n_units,
  CAST(dropped.n_dropped AS BIGINT) AS n_dropped,
  CAST(margins.k_categories AS BIGINT) AS k_categories,
  CAST(folds.ag AS DOUBLE) AS agree_pairs,
  CAST(margins.msq AS DOUBLE) AS margin_sq_sum,
  CASE WHEN folds.n_units > 0
       THEN CAST(folds.ag AS DOUBLE)
            / CAST(folds.n_units * 6 AS DOUBLE) END AS pa,
  CASE WHEN folds.n_units > 0 AND margins.k_categories >= 2
       THEN CAST(9 * folds.n_units * folds.n_units - margins.msq
                 AS DOUBLE)
            / (CAST(margins.k_categories - 1 AS DOUBLE)
               * CAST(9 * folds.n_units * folds.n_units AS DOUBLE))
       END AS pe,
  CASE WHEN folds.n_units > 0 AND margins.k_categories >= 2
        AND CAST(9 * folds.n_units * folds.n_units - margins.msq
                 AS DOUBLE)
            / (CAST(margins.k_categories - 1 AS DOUBLE)
               * CAST(9 * folds.n_units * folds.n_units AS DOUBLE))
            != 1.0
       THEN (CAST(folds.ag AS DOUBLE)
             / CAST(folds.n_units * 6 AS DOUBLE)
             - CAST(9 * folds.n_units * folds.n_units - margins.msq
                    AS DOUBLE)
               / (CAST(margins.k_categories - 1 AS DOUBLE)
                  * CAST(9 * folds.n_units * folds.n_units AS DOUBLE)))
            / (1.0
               - CAST(9 * folds.n_units * folds.n_units - margins.msq
                      AS DOUBLE)
                 / (CAST(margins.k_categories - 1 AS DOUBLE)
                    * CAST(9 * folds.n_units * folds.n_units
                           AS DOUBLE)))
       END AS ac1
FROM folds, dropped, margins
"""


def q_tau_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial Kendall's tau: does the priority-to-lineitem-count
    association (the q_somers_d question) survive controlling for the
    order's price decade?  A tau_xy that collapses partially would be
    the Simpson's-paradox tell.  (operators/checks.py
    partial_tau_cells.)"""
    from npm_mirror_spark.operators.checks import partial_tau_cells

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("long").alias("prio"),
        F.floor(F.col("o_totalprice") / 10000).cast("long").alias("decade"),
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    nl = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nlines"))
    j = o.join(nl, o["o_orderkey"] == nl["l_orderkey"]).select(
        "prio", "nlines", "decade"
    )
    return partial_tau_cells(j, "prio", "nlines", "decade")


def _tau_b_block(p: str, xc: str, yc: str) -> str:
    """CTE block computing tau_b between two columns of ``g`` under
    the prefix ``p`` — the _assoc_sql pair decomposition reduced to
    the tau_b output (same HUGEINT counts, same final sqrt
    expression)."""
    return f"""
{p}cells AS (
  SELECT {xc} AS x, {yc} AS y, count(*) AS c FROM g GROUP BY {xc}, {yc}
),
{p}tot AS (
  SELECT
    coalesce(sum(CASE WHEN a.y < b.y
                      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0)
      AS cc,
    coalesce(sum(CASE WHEN a.y > b.y
                      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0)
      AS dd
  FROM {p}cells a JOIN {p}cells b ON a.x < b.x
),
{p}tx AS (
  SELECT coalesce(sum((CAST(nx AS HUGEINT) * (nx - 1)) // 2), 0) AS t
  FROM (SELECT sum(c) AS nx FROM {p}cells GROUP BY x)
),
{p}ty AS (
  SELECT coalesce(sum((CAST(ny AS HUGEINT) * (ny - 1)) // 2), 0) AS t
  FROM (SELECT sum(c) AS ny FROM {p}cells GROUP BY y)
),
{p}tau AS (
  SELECT CASE WHEN p - {p}tx.t > 0 AND p - {p}ty.t > 0
              THEN CAST(cc - dd AS DOUBLE)
                   / sqrt(CAST((p - {p}tx.t) * (p - {p}ty.t) AS DOUBLE))
         END AS tau
  FROM {p}tot, {p}tx, {p}ty,
    (SELECT (CAST(count(*) AS HUGEINT) * (count(*) - 1)) // 2 AS p
     FROM g) {p}meta
)"""


_TAU_PARTIAL_SQL = f"""
WITH g AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS px,
    nl.nlines AS py,
    CAST(floor(o.o_totalprice / 10000) AS BIGINT) AS pz
  FROM orders o
  JOIN (SELECT l_orderkey, count(*) AS nlines
        FROM lineitem GROUP BY l_orderkey) nl
    ON o.o_orderkey = nl.l_orderkey
  WHERE o.o_orderpriority IS NOT NULL AND o.o_totalprice IS NOT NULL
),
{_tau_b_block("xy", "px", "py")},
{_tau_b_block("xz", "px", "pz")},
{_tau_b_block("yz", "py", "pz")}
SELECT (SELECT count(*) FROM g) AS n_rows,
  xytau.tau AS tau_xy, xztau.tau AS tau_xz, yztau.tau AS tau_yz,
  CASE WHEN xytau.tau IS NOT NULL AND xztau.tau IS NOT NULL
        AND yztau.tau IS NOT NULL
        AND (1.0 - xztau.tau * xztau.tau)
            * (1.0 - yztau.tau * yztau.tau) > 0
       THEN (xytau.tau - xztau.tau * yztau.tau)
            / sqrt((1.0 - xztau.tau * xztau.tau)
                   * (1.0 - yztau.tau * yztau.tau))
       END AS tau_partial
FROM xytau, xztau, yztau
"""


def q_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's footrule between the quantity and price-hectobucket
    rankings of lineitems — the L1 companion to the registered
    q_spearman (L2) on a related fixture: do the two orderings move
    rows far apart on average?  (operators/checks.py footrule_cells.)"""
    from npm_mirror_spark.operators.checks import footrule_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("hecto"),
    )
    return footrule_cells(li, "qty", "hecto")


_FOOTRULE_SQL = """
WITH g AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
    CAST(floor(l_extendedprice / 100) AS BIGINT) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
vx AS (SELECT x, count(*) AS c FROM g GROUP BY x),
mx AS (
  SELECT x,
    2 * coalesce(sum(c) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      AS rx2
  FROM vx
),
vy AS (SELECT y, count(*) AS c FROM g GROUP BY y),
my AS (
  SELECT y,
    2 * coalesce(sum(c) OVER (ORDER BY y
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      AS ry2
  FROM vy
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(abs(CAST(mx.rx2 AS HUGEINT) - my.ry2)), 0)
       AS DOUBLE) AS footrule_x2,
  CAST(coalesce(sum((CAST(mx.rx2 AS HUGEINT) - my.ry2)
                    * (CAST(mx.rx2 AS HUGEINT) - my.ry2)), 0)
       AS DOUBLE) AS sq_diff_x4
FROM g JOIN mx ON g.x = mx.x JOIN my ON g.y = my.y
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (operators/checks.py:t_closeness_report):
    per-nation variational distance between the nation's market-
    segment distribution and the table-wide one — the third leg of
    the privacy tier after q_kanonymity's k-anonymity / l-diversity
    columns (a class can clear both and still leak by DISTRIBUTION).
    tvd_num is an exact integer with denominators cleared; tvd is one
    IEEE division."""
    from npm_mirror_spark.operators.checks import t_closeness_report

    c = _t(spark, sf_dir, "customer")
    return t_closeness_report(c, ["c_nationkey"], "c_mktsegment")


_T_CLOSENESS_SQL = """
WITH cv AS (
  SELECT c_nationkey AS q, c_mktsegment AS v, count(*) AS ngv
  FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
cls AS (SELECT q, sum(ngv) AS ng FROM cv GROUP BY 1),
vals AS (SELECT v, sum(ngv) AS nv FROM cv GROUP BY 1),
tot AS (SELECT sum(nv) AS nn FROM vals),
grid AS (
  SELECT cls.q, cls.ng, vals.v, vals.nv, tot.nn
  FROM cls CROSS JOIN vals CROSS JOIN tot),
filled AS (
  SELECT grid.q, grid.ng, grid.nv, grid.nn,
         coalesce(cv.ngv, 0) AS ngv
  FROM grid LEFT JOIN cv ON grid.q = cv.q AND grid.v = cv.v)
SELECT q AS c_nationkey,
  CAST(max(ng) AS BIGINT) AS n_class,
  CAST(sum(abs(CAST(ngv AS DECIMAL(38,0)) * nn
               - CAST(nv AS DECIMAL(38,0)) * ng)) AS DOUBLE)
    AS tvd_num,
  CAST(sum(abs(CAST(ngv AS DECIMAL(38,0)) * nn
               - CAST(nv AS DECIMAL(38,0)) * ng)) AS DOUBLE)
    / (2.0 * CAST(max(ng) AS DOUBLE) * CAST(max(nn) AS DOUBLE))
    AS tvd
FROM filled GROUP BY 1 ORDER BY 1
"""


def q_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin concordance (operators/checks.py:lin_ccc_cells) between
    each order's header total and the cents-sum of its line prices —
    the reconciliation AGREEMENT verdict q_fk_audit (existence) and
    q_corr_moments (correlation) don't give: CCC penalizes scale and
    shift off the 45-degree line, and needs no sqrt, so the whole
    chain is exact cells + one division."""
    from npm_mirror_spark.operators.checks import lin_ccc_cells

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ls = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
        ).alias("y")
    )
    j = o.join(ls, o["o_orderkey"] == ls["l_orderkey"]).select(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("x"),
        "y",
    )
    return lin_ccc_cells(j, F.col("x"), F.col("y"))


_LIN_CCC_SQL = """
WITH ls AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem GROUP BY 1),
p AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x, y
  FROM orders JOIN ls ON o_orderkey = l_orderkey),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_pairs,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM p)
SELECT n_pairs, sx, sy, sxx, syy, sxy,
  2.0 * (n_pairs * sxy - sx * sy) AS ccc_num,
  ((n_pairs * sxx - sx * sx) + (n_pairs * syy - sy * sy)
   + (sx - sy) * (sx - sy)) AS ccc_den,
  CASE WHEN ((n_pairs * sxx - sx * sx) + (n_pairs * syy - sy * sy)
             + (sx - sy) * (sx - sy)) <> 0
    THEN 2.0 * (n_pairs * sxy - sx * sy)
         / ((n_pairs * sxx - sx * sx) + (n_pairs * syy - sy * sy)
            + (sx - sy) * (sx - sy))
  END AS ccc
FROM m
"""


def q_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index (operators/checks.py:hoover_cells)
    over per-customer revenue — the L1 inequality verdict beside the
    Gini faces (q_source_gini) and q_hhi: the single largest vertical
    gap of the Lorenz diagram, i.e. the share of revenue that would
    have to move between customers to equalize them.  Exact integer
    deviations against a 1-row (n, T) broadcast fold; one division."""
    from npm_mirror_spark.operators.checks import hoover_cells

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("rev_c")
    )
    return hoover_cells(per_cust, F.col("rev_c"))


_HOOVER_SQL = """
WITH u AS (
  SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS DECIMAL(38,0)) AS x
  FROM orders GROUP BY o_custkey),
t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS tt FROM u),
d AS (
  SELECT sum(abs(u.x * CAST(t.n AS DECIMAL(38,0)) - t.tt)) AS s
  FROM u CROSS JOIN t)
SELECT t.n AS n_units,
  CAST(t.tt AS DOUBLE) AS total_value,
  CAST(d.s AS DOUBLE) AS abs_dev_sum,
  CAST(d.s AS DOUBLE)
    / (2.0 * CAST(t.n AS DOUBLE) * CAST(t.tt AS DOUBLE)) AS hoover
FROM t CROSS JOIN d
"""


def q_rand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (operators/checks.py:ari_cells) between
    the q_kmeans Lloyd assignment and the embeddings' ground-truth
    label column — the chance-corrected agreement verdict the
    clustering tier had no face for (accuracy is meaningless across
    label permutations; ARI is permutation-invariant, 0-expected
    under independence).  The oracle COMPOSES the already-verified
    q_kmeans oracle SQL (three unrolled Lloyd rounds), so the whole
    train->assign->agree chain is driver-checkable; all cells are
    DOUBLED pair counts (no halving), one final division."""
    from npm_mirror_spark.operators.checks import ari_cells

    e = _t(spark, sf_dir, "embeddings")
    model = sim_ops.train_kmeans(e, k=8, n_iter=3)
    asg = sim_ops.kmeans_assign(e, model["centroids_q"])
    j = asg.join(e.select("vec_id", "label"), "vec_id")
    return ari_cells(j, "cluster", "label")


def _rand_index_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_kmeans oracle SQL into the ARI replay
    (the q_mrr / q_ndcg composition pattern)."""
    return f"""
WITH asg AS ({ORACLES["q_kmeans"]}),
j AS (
  SELECT asg.cluster AS a, e.label AS b
  FROM asg JOIN embeddings e USING (vec_id)),
cont AS (
  SELECT a, b, count(*) AS n FROM j
  WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2),
cells AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_items,
         CAST(sum(CAST(n * (n - 1) AS DECIMAL(38,0))) AS DOUBLE)
           AS pairs2_cells
  FROM cont),
ra AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a_classes,
         CAST(sum(CAST(na * (na - 1) AS DECIMAL(38,0))) AS DOUBLE)
           AS pairs2_a
  FROM (SELECT sum(n) AS na FROM cont GROUP BY a)),
rb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b_classes,
         CAST(sum(CAST(nb * (nb - 1) AS DECIMAL(38,0))) AS DOUBLE)
           AS pairs2_b
  FROM (SELECT sum(n) AS nb FROM cont GROUP BY b))
SELECT n_items, n_a_classes, n_b_classes,
  pairs2_cells, pairs2_a, pairs2_b,
  CAST(n_items AS DOUBLE) * (CAST(n_items AS DOUBLE) - 1.0)
    AS pairs2_total,
  CASE WHEN (CAST(n_items AS DOUBLE) * (CAST(n_items AS DOUBLE) - 1.0)
             * (pairs2_a + pairs2_b) - 2.0 * pairs2_a * pairs2_b) <> 0
    THEN 2.0 * (CAST(n_items AS DOUBLE)
                * (CAST(n_items AS DOUBLE) - 1.0) * pairs2_cells
                - pairs2_a * pairs2_b)
         / (CAST(n_items AS DOUBLE) * (CAST(n_items AS DOUBLE) - 1.0)
            * (pairs2_a + pairs2_b) - 2.0 * pairs2_a * pairs2_b)
  END AS ari
FROM cells CROSS JOIN ra CROSS JOIN rb
"""


def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve decile points (operators/checks.py:lorenz_cells)
    over per-customer revenue — the whole concentration curve whose
    single numbers q_hoover_index (max vertical gap) and the Gini
    faces (area) already report.  Tie-safe ascending integer
    bucketing; decimal value masses; one division per share."""
    from npm_mirror_spark.operators.checks import lorenz_cells

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("rev_c")
    )
    return lorenz_cells(per_cust, F.col("rev_c"), k=10)


_LORENZ_SQL = """
WITH u AS (
  SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY o_custkey),
vals AS (SELECT x, count(*) AS c FROM u GROUP BY 1),
mass AS (
  SELECT x, c,
         CAST(CAST(x AS DECIMAL(38,0)) * c AS DECIMAL(38,0)) AS m
  FROM vals),
pri AS (
  SELECT x, c, m,
    coalesce(sum(c) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS prior
  FROM mass),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(m) AS DECIMAL(38,0)) AS t
  FROM mass),
b AS (
  SELECT CAST(prior * 10 AS BIGINT) // n AS bk, c, m, n, t
  FROM pri CROSS JOIN tot),
gb AS (
  SELECT bk, CAST(sum(c) AS BIGINT) AS n_u,
         CAST(sum(m) AS DECIMAL(38,0)) AS vs,
         CAST(max(n) AS BIGINT) AS n_total,
         CAST(max(t) AS DECIMAL(38,0)) AS tt
  FROM b GROUP BY 1),
cm AS (
  SELECT bk, n_u, CAST(vs AS DOUBLE) AS v_sum,
    CAST(sum(n_u) OVER (ORDER BY bk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_n,
    CAST(CAST(sum(vs) OVER (ORDER BY bk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DECIMAL(38,0)) AS DOUBLE) AS cum_v,
    n_total, CAST(tt AS DOUBLE) AS v_total
  FROM gb)
SELECT bk AS bucket, n_u, v_sum, cum_n, cum_v, n_total, v_total,
  CAST(cum_n AS DOUBLE) / CAST(n_total AS DOUBLE) AS pop_share,
  CASE WHEN v_total <> 0 THEN cum_v / v_total END AS value_share
FROM cm ORDER BY bucket
"""


def q_ess_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective-sample-size audit (operators/checks.py:
    ess_cells) of activity-weighted users per event type — if users
    are sampled proportionally to their event count (the
    activity-mass sampling a naive event-level split implies), how
    many equally-weighted users is each type's sample worth?  The
    design-effect verdict beside the mix faces (q_temperature_mix
    reweights sources; this measures what a weighting COSTS)."""
    from npm_mirror_spark.operators.checks import ess_cells

    e = _t(spark, sf_dir, "events")
    units = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("w")
    )
    return ess_cells(units, "event_type", F.col("w"))


_ESS_AUDIT_SQL = """
WITH u AS (
  SELECT event_type AS g, user_id, count(*) AS w
  FROM events GROUP BY 1, 2)
SELECT g AS event_type,
  CAST(count(*) AS BIGINT) AS n_units,
  CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) AS sum_w,
  CAST(sum(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) AS sum_w2,
  CASE WHEN CAST(sum(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) > 0
    THEN (CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE)
          * CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE))
         / CAST(sum(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) END
    AS ess,
  (CASE WHEN CAST(sum(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) > 0
    THEN (CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE)
          * CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE))
         / CAST(sum(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) END)
    / CAST(count(*) AS DOUBLE) AS ess_ratio
FROM u GROUP BY 1 ORDER BY 1
"""


def q_quality_checks(spark, sf_dir):
    """Declarative data-quality contract over orders
    (operators/checks.py:constraint_report — the Deequ pattern): six
    constraints (completeness, two uniqueness — one deliberately
    failing on the repeating o_custkey, value domain, format regex,
    min/max bounds) evaluated in ONE aggregation job over ONE scan;
    every metric is a ratio of exact counts or an exact min/max, so the
    oracle reproduces each value and verdict bit-for-bit."""
    from npm_mirror_spark.operators import checks as checks_ops

    o = _t(spark, sf_dir, "orders")
    return checks_ops.constraint_report(o, [
        ("custkey_complete", "completeness", "o_custkey", 1.0),
        ("orderkey_unique", "uniqueness", "o_orderkey", 1.0),
        ("custkey_unique", "uniqueness", "o_custkey", 1.0),  # fails: repeats
        ("status_domain", "in_set", "o_orderstatus", 1.0, ["O", "F", "P"]),
        ("priority_format", "matches", "o_orderpriority", 1.0, "^[1-5]-[A-Z ]+$"),
        ("price_positive", "min_value", "o_totalprice", 0.0),
    ])


# q_quality_checks: each constraint is the same exact-count ratio (or
# exact min) the Spark aggregate computes; the report shape is one
# UNION ALL branch per constraint over the same base aggregates.
_QUALITY_CHECKS_SQL = """
WITH a AS (
  SELECT count(*) AS n,
         count(o_custkey) AS nn_ck,
         count(o_orderkey) AS nn_ok, count(DISTINCT o_orderkey) AS nd_ok,
         count(DISTINCT o_custkey) AS nd_ck,
         count(o_orderstatus) AS nn_st,
         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS hit_st,
         count(o_orderpriority) AS nn_pr,
         sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                  THEN 1 ELSE 0 END) AS hit_pr,
         CAST(min(o_totalprice) AS DOUBLE) AS mn_tp
  FROM orders)
SELECT 'custkey_complete' AS name, 'completeness' AS kind,
       'o_custkey' AS "column",
       CASE WHEN n > 0 THEN CAST(nn_ck AS DOUBLE) / CAST(n AS DOUBLE)
            ELSE 1.0 END AS metric,
       -- CAST coerces the whole UNION'd column to DOUBLE (a bare 1.0
       -- literal is DECIMAL(2,1) in DuckDB; Spark's face emits double)
       CAST(1.0 AS DOUBLE) AS threshold,
       CASE WHEN n > 0 THEN CAST(nn_ck AS DOUBLE) / CAST(n AS DOUBLE)
            ELSE 1.0 END >= 1.0 AS ok
FROM a
UNION ALL
SELECT 'orderkey_unique', 'uniqueness', 'o_orderkey',
       CASE WHEN nn_ok > 0 THEN CAST(nd_ok AS DOUBLE) / CAST(nn_ok AS DOUBLE)
            ELSE 1.0 END,
       1.0,
       CASE WHEN nn_ok > 0 THEN CAST(nd_ok AS DOUBLE) / CAST(nn_ok AS DOUBLE)
            ELSE 1.0 END >= 1.0
FROM a
UNION ALL
SELECT 'custkey_unique', 'uniqueness', 'o_custkey',
       CASE WHEN nn_ck > 0 THEN CAST(nd_ck AS DOUBLE) / CAST(nn_ck AS DOUBLE)
            ELSE 1.0 END,
       1.0,
       CASE WHEN nn_ck > 0 THEN CAST(nd_ck AS DOUBLE) / CAST(nn_ck AS DOUBLE)
            ELSE 1.0 END >= 1.0
FROM a
UNION ALL
SELECT 'status_domain', 'in_set', 'o_orderstatus',
       CASE WHEN nn_st > 0 THEN CAST(hit_st AS DOUBLE) / CAST(nn_st AS DOUBLE)
            ELSE 1.0 END,
       1.0,
       CASE WHEN nn_st > 0 THEN CAST(hit_st AS DOUBLE) / CAST(nn_st AS DOUBLE)
            ELSE 1.0 END >= 1.0
FROM a
UNION ALL
SELECT 'priority_format', 'matches', 'o_orderpriority',
       CASE WHEN nn_pr > 0 THEN CAST(hit_pr AS DOUBLE) / CAST(nn_pr AS DOUBLE)
            ELSE 1.0 END,
       1.0,
       CASE WHEN nn_pr > 0 THEN CAST(hit_pr AS DOUBLE) / CAST(nn_pr AS DOUBLE)
            ELSE 1.0 END >= 1.0
FROM a
UNION ALL
SELECT 'price_positive', 'min_value', 'o_totalprice', mn_tp, 0.0,
       mn_tp >= 0.0
FROM a
"""


def q_drift_report(spark, sf_dir):
    """Column-level drift between two corpus slices
    (operators/checks.py:drift_report — the data-validation twin of
    q_quality_checks): null-rate, distinct-cardinality and exact-
    decimal-mean deltas per column, one single-scan aggregation job per
    side, 1-row results broadcast-joined and unpivoted. Contracts catch
    breakage; drift catches the silent distribution shift between
    release N-1 and N that still poisons training downstream. Every
    metric is a ratio of exact counts, so verdicts replay in SQL."""
    from npm_mirror_spark.operators import checks as checks_ops

    d = _t(spark, sf_dir, "documents")
    return checks_ops.drift_report(
        d.where(F.col("source") == "src1"),
        d.where(F.col("source") == "src2"),
        ["lang", "n_chars", "text"],
    ).orderBy("column")


# q_drift_report: both sides' single-scan metric rows, the broadcast
# cross join, and the per-column verdict algebra replayed with the same
# tolerance literals (0.02 / 0.10 / 0.05).
_DRIFT_REPORT_SQL = """
WITH sa AS (
  SELECT count(*) AS n,
         count(lang) AS nn_lang, count(DISTINCT lang) AS d_lang,
         count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS d_nc,
         sum(CAST(CAST(n_chars AS DECIMAL(28,4)) * 10000 AS DECIMAL(32,0))) AS s_nc,
         count(text) AS nn_t, count(DISTINCT text) AS d_t
  FROM documents WHERE source = 'src1'),
sb AS (
  SELECT count(*) AS n,
         count(lang) AS nn_lang, count(DISTINCT lang) AS d_lang,
         count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS d_nc,
         sum(CAST(CAST(n_chars AS DECIMAL(28,4)) * 10000 AS DECIMAL(32,0))) AS s_nc,
         count(text) AS nn_t, count(DISTINCT text) AS d_t
  FROM documents WHERE source = 'src2'),
j AS (SELECT * FROM sa CROSS JOIN (
        SELECT n AS n_b, nn_lang AS nn_lang_b, d_lang AS d_lang_b,
               nn_nc AS nn_nc_b, d_nc AS d_nc_b, s_nc AS s_nc_b,
               nn_t AS nn_t_b, d_t AS d_t_b FROM sb)),
rows_ AS (
  SELECT 'lang' AS column_, n, n_b,
         CASE WHEN n > 0 THEN CAST(n - nn_lang AS DOUBLE) / n ELSE 0.0 END AS nr_a,
         CASE WHEN n_b > 0 THEN CAST(n_b - nn_lang_b AS DOUBLE) / n_b ELSE 0.0 END AS nr_b,
         d_lang AS d_a, d_lang_b AS d_b,
         CAST(NULL AS DOUBLE) AS m_a, CAST(NULL AS DOUBLE) AS m_b,
         FALSE AS is_num
  FROM j
  UNION ALL
  SELECT 'n_chars', n, n_b,
         CASE WHEN n > 0 THEN CAST(n - nn_nc AS DOUBLE) / n ELSE 0.0 END,
         CASE WHEN n_b > 0 THEN CAST(n_b - nn_nc_b AS DOUBLE) / n_b ELSE 0.0 END,
         d_nc, d_nc_b,
         CASE WHEN nn_nc > 0 THEN (CAST(s_nc AS DOUBLE) / 10000.0) / nn_nc END,
         CASE WHEN nn_nc_b > 0 THEN (CAST(s_nc_b AS DOUBLE) / 10000.0) / nn_nc_b END,
         TRUE
  FROM j
  UNION ALL
  SELECT 'text', n, n_b,
         CASE WHEN n > 0 THEN CAST(n - nn_t AS DOUBLE) / n ELSE 0.0 END,
         CASE WHEN n_b > 0 THEN CAST(n_b - nn_t_b AS DOUBLE) / n_b ELSE 0.0 END,
         d_t, d_t_b,
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         FALSE
  FROM j),
verdicts AS (
  SELECT column_, n, n_b, nr_a, nr_b, d_a, d_b, m_a, m_b,
         abs(nr_a - nr_b) > 0.02 AS null_drift,
         CAST(abs(d_a - d_b) AS DOUBLE)
           > 0.10 * CAST(greatest(d_a, d_b, 1) AS DOUBLE) AS distinct_drift,
         CASE WHEN is_num
              THEN coalesce(abs(m_a - m_b)
                     > 0.05 * greatest(abs(m_a), abs(m_b)), FALSE)
              ELSE FALSE END AS mean_drift
  FROM rows_)
SELECT column_ AS "column", CAST(n AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       nr_a AS null_rate_a, nr_b AS null_rate_b,
       CAST(d_a AS BIGINT) AS distinct_a, CAST(d_b AS BIGINT) AS distinct_b,
       m_a AS mean_a, m_b AS mean_b,
       null_drift, distinct_drift, mean_drift,
       (null_drift OR distinct_drift OR mean_drift) AS drifted
FROM verdicts
ORDER BY column_
"""


def q_validated_batch(spark, sf_dir):
    """The ValidatedAppend gate's batch decision as a driver-checkable
    relational face (operators/checks.py:grouped_constraint_report —
    r7 verdict item 5): orders split into 4 deterministic batches
    (o_orderkey % 4), two of which get md5-seeded corruption (batch 2:
    negated prices on ~1/13 of rows; batch 3: nulled status) — then
    every batch's constraint report plus the all-or-nothing routing
    verdict ('main' / 'quarantine') comes out of ONE aggregation job,
    exactly the per-micro-batch decision
    streaming/validated_append.py::ValidatedAppend.process_batch makes
    (pinned for exactly-once replay in tests/test_validated_append.py).
    Exact count ratios and min/max only — bit-for-bit replayable."""
    from npm_mirror_spark.operators import checks as checks_ops
    from npm_mirror_spark.operators.dedup import md5_key64

    o = _t(spark, sf_dir, "orders")
    hit = F.pmod(md5_key64(F.col("o_orderkey"), 1), F.lit(13)) == 0
    batched = o.select(
        F.pmod(F.col("o_orderkey"), F.lit(4)).cast("int").alias("batch_id"),
        F.when(
            (F.pmod(F.col("o_orderkey"), F.lit(4)) == 2) & hit,
            -F.col("o_totalprice"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(
            (F.pmod(F.col("o_orderkey"), F.lit(4)) == 3) & hit,
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return checks_ops.grouped_constraint_report(batched, "batch_id", [
        ("status_complete", "completeness", "o_orderstatus", 1.0),
        ("status_domain", "in_set", "o_orderstatus", 1.0, ["O", "F", "P"]),
        ("price_positive", "min_value", "o_totalprice", 0.0),
    ]).orderBy("batch_id", "name")


# q_validated_batch: the grouped contract gate replayed — md5-seeded
# corruption, per-batch exact-count metrics, the three-constraint
# conjunction and the main/quarantine verdict.
_VALIDATED_BATCH_SQL = """
WITH h AS (
  SELECT *,
         (('0x' || substr(md5('1:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
          % 13 = 0) AS hit
  FROM orders),
b AS (
  SELECT CAST(o_orderkey % 4 AS INTEGER) AS batch_id,
         CASE WHEN o_orderkey % 4 = 2 AND hit THEN -o_totalprice
              ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 4 = 3 AND hit THEN NULL
              ELSE o_orderstatus END AS status
  FROM h),
per AS (
  SELECT batch_id,
         CASE WHEN count(*) > 0
              THEN CAST(count(status) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              ELSE 1.0 END AS m0,
         CASE WHEN count(status) > 0
              THEN CAST(sum(CASE WHEN status IN ('O','F','P') THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(status) AS DOUBLE)
              ELSE 1.0 END AS m1,
         CAST(min(price) AS DOUBLE) AS m2
  FROM b GROUP BY 1),
v AS (
  SELECT batch_id, m0, m1, m2,
         (m0 >= 1.0 AND m1 >= 1.0 AND m2 >= 0.0) AS group_ok
  FROM per)
SELECT batch_id, name, kind, "column", metric, threshold, ok, group_ok,
       CASE WHEN group_ok THEN 'main' ELSE 'quarantine' END AS route
FROM (
  SELECT batch_id, 'status_complete' AS name, 'completeness' AS kind,
         'o_orderstatus' AS "column", m0 AS metric,
         CAST(1.0 AS DOUBLE) AS threshold,
         m0 >= 1.0 AS ok, group_ok FROM v
  UNION ALL
  SELECT batch_id, 'status_domain', 'in_set', 'o_orderstatus', m1, 1.0,
         m1 >= 1.0, group_ok FROM v
  UNION ALL
  SELECT batch_id, 'price_positive', 'min_value', 'o_totalprice', m2, 0.0,
         m2 >= 0.0, group_ok FROM v)
ORDER BY batch_id, name
"""


def q_kanonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (operators/checks.py:
    kanonymity_report): customers bucketed by the quasi-identifier pair
    (nation, market segment), account balance as the sensitive
    attribute — per k in (2,5,10), how many equivalence classes (and
    rows) fall below k, plus the l-diversity leak count.  ONE quasi-key
    groupBy bounded by the 25x5 identifier domain, then a 3-row
    literal explode + re-aggregation — no window, no self-join."""
    from npm_mirror_spark.operators.checks import kanonymity_report

    c = _t(spark, sf_dir, "customer")
    return kanonymity_report(
        c, ["c_nationkey", "c_mktsegment"], "c_acctbal", ks=(2, 5, 10),
        l_div=2,
    )


# q_kanonymity: one quasi-key groupBy -> class table, 3-row k explode,
# re-aggregate; l-diversity counts are k-independent.
_KANONYMITY_SQL = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         count(*) AS sz, count(DISTINCT c_acctbal) AS ldiv
  FROM customer GROUP BY 1, 2),
ks AS (SELECT * FROM (VALUES (2), (5), (10)) AS t(k))
SELECT CAST(k AS INTEGER) AS k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(sz) AS BIGINT) AS min_class_size,
       CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k,
       CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_low_ldiv,
       CAST(sum(CASE WHEN ldiv < 2 THEN sz ELSE 0 END) AS BIGINT)
         AS rows_low_ldiv
FROM classes CROSS JOIN ks
GROUP BY k ORDER BY k
"""


def q_chisq(spark, sf_dir):
    """Chi-square independence audit (operators/checks.py:
    chisq_independence_cells): is order status independent of order
    priority?  Reported PER CELL (3x5 bounded output) so every number
    is exact DECIMAL(38,0) or a single deterministic IEEE op — obs*N
    cross-multiplied against the margin product, never a float total.
    Three bounded groupBys + broadcast margin joins."""
    from npm_mirror_spark.operators.checks import chisq_independence_cells

    o = _t(spark, sf_dir, "orders")
    return nodec(
        chisq_independence_cells(o, "o_orderstatus", "o_orderpriority")
    )


# q_chisq: per-cell |obs*N - row_m*col_m| in HUGEINT, chi2 contribution
# as (dev/den)*dev — per-cell independent IEEE ops, both engines agree.
_CHISQ_SQL = """
WITH obs AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS obs
  FROM orders GROUP BY 1, 2),
rm AS (SELECT o_orderstatus, count(*) AS row_m FROM orders GROUP BY 1),
cm AS (SELECT o_orderpriority, count(*) AS col_m FROM orders GROUP BY 1),
t AS (SELECT count(*) AS n_total FROM orders)
SELECT o.o_orderstatus, o.o_orderpriority,
       CAST(o.obs AS BIGINT) AS obs,
       CAST(rm.row_m AS BIGINT) AS row_m,
       CAST(cm.col_m AS BIGINT) AS col_m,
       CAST(t.n_total AS BIGINT) AS n_total,
       CAST(CAST(abs(CAST(o.obs AS HUGEINT) * CAST(t.n_total AS HUGEINT)
                 - CAST(rm.row_m AS HUGEINT) * CAST(cm.col_m AS HUGEINT))
            AS VARCHAR) AS DOUBLE) AS dev_num,
       (CAST(CAST(abs(CAST(o.obs AS HUGEINT) * CAST(t.n_total AS HUGEINT)
                 - CAST(rm.row_m AS HUGEINT) * CAST(cm.col_m AS HUGEINT))
             AS VARCHAR) AS DOUBLE)
        / CAST(CAST(CAST(rm.row_m AS HUGEINT) * CAST(cm.col_m AS HUGEINT)
               * CAST(t.n_total AS HUGEINT) AS VARCHAR) AS DOUBLE))
         * CAST(CAST(abs(CAST(o.obs AS HUGEINT) * CAST(t.n_total AS HUGEINT)
                    - CAST(rm.row_m AS HUGEINT)
                      * CAST(cm.col_m AS HUGEINT)) AS VARCHAR) AS DOUBLE)
         AS chi2_cell
FROM obs o
JOIN rm USING (o_orderstatus)
JOIN cm USING (o_orderpriority)
CROSS JOIN t
ORDER BY o.o_orderstatus, o.o_orderpriority
"""


def q_kappa(spark, sf_dir):
    """Cohen's kappa between the stored gold ``lang`` label and the
    cheap stopword language-id heuristic (operators/checks.py:
    cohens_kappa over operators/text.py:language_id) — the
    chance-corrected agreement audit a labeling pipeline runs before
    trusting either side.  Exact integer margins; kappa =
    (n_agree*N - pe_num)/(N*N - pe_num), one IEEE division of exact
    DECIMAL(38,0) operands; face emits double per the decimal-face
    contract."""
    from npm_mirror_spark.operators.checks import cohens_kappa

    d = _t(spark, sf_dir, "documents")
    pair = d.select("lang", text_ops.language_id("text").alias("lang_guess"))
    return nodec(cohens_kappa(pair, "lang", "lang_guess"))


# q_kappa: the q_lang_id stopword scorer replayed, then exact margins;
# kappa = (agree*N - pe)/(N*N - pe), VARCHAR-routed doubles.
_KAPPA_SQL = f"""
WITH w AS (SELECT doc_id, str_split({NORM}, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
  len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','es'], x))) AS s_es,
  len(list_filter(toks, x -> list_contains(['le','la','de','et','que','en','est'], x))) AS s_fr,
  len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','ist'], x))) AS s_de
  FROM w),
guess AS (
  SELECT doc_id, CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
    WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
    WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
    WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
    ELSE 'fr' END AS b
  FROM s),
pair AS (
  SELECT d.lang AS a, g.b FROM documents d JOIN guess g USING (doc_id)),
agree AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM pair),
rm AS (SELECT a AS c, count(*) AS r FROM pair GROUP BY 1),
cm AS (SELECT b AS c, count(*) AS m FROM pair GROUP BY 1),
pe AS (
  SELECT coalesce(sum(CAST(r AS HUGEINT) * CAST(m AS HUGEINT)),
                  CAST(0 AS HUGEINT)) AS pe_num
  FROM rm JOIN cm USING (c))
SELECT n, n_agree,
       CAST(CAST(pe_num AS VARCHAR) AS DOUBLE) AS pe_num,
       CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       CAST(CAST(CAST(n_agree AS HUGEINT) * CAST(n AS HUGEINT) - pe_num
                 AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - pe_num
                     AS VARCHAR) AS DOUBLE) AS kappa
FROM agree CROSS JOIN pe
"""


def q_cochran_armitage(spark, sf_dir):
    """Cochran–Armitage trend-in-proportions (operators/checks.py:
    cochran_armitage): does the share of FULLY-SHIPPED orders trend
    across the ORDERED priority scale (1-URGENT … 5-LOW)?  The
    dose-response question q_chisq cannot ask (independence treats the
    priorities as unordered).  T = Σ s_i(r_i N - R n_i) in exact
    DECIMAL(38,0); the report is the exact numerator + the scale-free
    T/N² effect — the rank_sum no-sqrt discipline."""
    from npm_mirror_spark.operators.checks import cochran_armitage

    o = _t(spark, sf_dir, "orders")
    return nodec(
        cochran_armitage(
            o,
            success=(F.col("o_orderstatus") == "F"),
            score=F.substring("o_orderpriority", 1, 1).cast("int"),
        )
    )


# q_cochran_armitage: T = sum s_i(r_i*N - R*n_i) in HUGEINT over the
# bounded score axis, effect = T/N^2 — VARCHAR-routed doubles.
_COCHRAN_ARMITAGE_SQL = """
WITH g AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
per AS (SELECT s, count(*) AS n_i, sum(y) AS r_i FROM g GROUP BY 1),
t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS r_total FROM g),
agg AS (
  SELECT max(n) AS n, max(r_total) AS r_total,
         CAST(count(*) AS BIGINT) AS n_groups,
         sum(CAST(s AS HUGEINT)
             * (CAST(r_i AS HUGEINT) * CAST(n AS HUGEINT)
                - CAST(r_total AS HUGEINT) * CAST(n_i AS HUGEINT)))
           AS t_num
  FROM per CROSS JOIN t)
SELECT n, r_total, n_groups,
       CAST(CAST(t_num AS VARCHAR) AS DOUBLE) AS t_num,
       CAST(CAST(t_num AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                     AS VARCHAR) AS DOUBLE) AS t_over_n2
FROM agg
"""


def q_mcnemar(spark, sf_dir):
    """McNemar's paired test (operators/checks.py:mcnemar_paired)
    between two is-English classifiers scored against the gold ``lang``
    label on the SAME documents: A = the stopword language-id argmax
    (text.py:language_id == 'en'), B = the one-token baseline ("does the
    normalized text contain the token 'the'").  Kappa (q_kappa) asks
    whether two labelers agree; McNemar asks the model-selection
    question — is A actually MORE ACCURATE than B, judged only on the
    discordant rows?  chi^2 = (b-c)^2/(b+c), one IEEE division of exact
    longs, NULL when no discordant pair exists; single scan, one
    map-side fold, no decimal output."""
    from npm_mirror_spark.operators.checks import mcnemar_paired
    from npm_mirror_spark.operators.dedup import normalize_text

    d = _t(spark, sf_dir, "documents")
    return mcnemar_paired(
        d,
        gold=F.col("lang") == "en",
        pred_a=text_ops.language_id("text") == "en",
        pred_b=F.array_contains(
            F.split(normalize_text("text"), " "), "the"
        ),
    )


_MCNEMAR_SQL = f"""
WITH w AS (SELECT doc_id, lang, str_split({NORM}, ' ') AS toks FROM documents),
s AS (SELECT doc_id, lang, toks,
  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
  len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','es'], x))) AS s_es,
  len(list_filter(toks, x -> list_contains(['le','la','de','et','que','en','est'], x))) AS s_fr,
  len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','ist'], x))) AS s_de
  FROM w),
flags AS (
  SELECT
    CASE WHEN (CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
      WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
      WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
      WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
      ELSE 'fr' END = 'en') = (lang = 'en') THEN 1 ELSE 0 END AS ca,
    CASE WHEN list_contains(toks, 'the') = (lang = 'en') THEN 1 ELSE 0 END AS cb
  FROM s)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(ca) AS BIGINT) AS a_correct,
       CAST(sum(cb) AS BIGINT) AS b_correct,
       CAST(sum(ca * (1 - cb)) AS BIGINT) AS b_discordant,
       CAST(sum((1 - ca) * cb) AS BIGINT) AS c_discordant,
       CASE WHEN sum(ca * (1 - cb)) + sum((1 - ca) * cb) > 0
            THEN CAST((sum(ca * (1 - cb)) - sum((1 - ca) * cb))
                      * (sum(ca * (1 - cb)) - sum((1 - ca) * cb)) AS DOUBLE)
               / CAST(sum(ca * (1 - cb)) + sum((1 - ca) * cb) AS DOUBLE)
            ELSE NULL END AS mcnemar_x2
FROM flags
"""
