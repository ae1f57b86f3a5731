"""Faces built on ``operators/stats.py``: rank, scale, trend, dispersion
and outlier tests, each next to its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.faces import DAILY_SQL, daily_counts, nodec
from npm_mirror_spark.tables import load_table as _t


def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank test over daily event-type counts: blocks
    = days, treatments = event types — did any type's daily volume rank
    persistently higher across days?  (operators/stats.py
    friedman_cells; the reference has no statistics surface — SURVEY
    §2.9 extension.)"""
    from npm_mirror_spark.operators.stats import friedman_cells

    return friedman_cells(daily_counts(spark, sf_dir), "d", "t", "n")


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe spread-homogeneity cells over document lengths by
    source — did a source's length DISTRIBUTION widen even where means
    held?  (operators/stats.py brown_forsythe_cells.)"""
    from npm_mirror_spark.operators.stats import brown_forsythe_cells

    d = _t(spark, sf_dir, "documents")
    return brown_forsythe_cells(d, "n_chars", "source")


def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-trend cells: does line quantity
    trend with line number within orders?  Ordered groups =
    l_linenumber, value = integer quantity.  (operators/stats.py
    jonckheere_cells.)"""
    from npm_mirror_spark.operators.stats import jonckheere_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("ln"),
        # floor, not a bare cast: Spark cast('long') truncates toward
        # zero while DuckDB CAST rounds — floor() is identical in both
        # (quantities are integral in the fixture; latent-divergence
        # guard, review finding)
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return jonckheere_cells(li, "qty", "ln")


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson lag-1 statistic per event type over its daily
    count series — the residual-independence audit for the volume
    trend dashboards.  (operators/stats.py durbin_watson_by.)"""
    from npm_mirror_spark.operators.stats import durbin_watson_by

    return durbin_watson_by(daily_counts(spark, sf_dir), "t", "d", "n")


def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test cells over document lengths by source —
    the outlier-robust location companion to q_kruskal/q_anova_cells.
    (operators/stats.py mood_median_cells.)"""
    from npm_mirror_spark.operators.stats import mood_median_cells

    d = _t(spark, sf_dir, "documents")
    return mood_median_cells(d, "n_chars", "source")


_FRIEDMAN_SQL = f"""
WITH {DAILY_SQL},
k AS (SELECT count(DISTINCT t) AS k FROM daily),
blocks AS (
  SELECT d FROM daily GROUP BY d
  HAVING count(*) = (SELECT k FROM k)
     AND count(DISTINCT t) = (SELECT k FROM k)
),
gc AS (SELECT daily.* FROM daily JOIN blocks USING (d)),
ranked AS (
  SELECT t,
    2 * coalesce(count(*) OVER (
          PARTITION BY d ORDER BY n
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + count(*) OVER (PARTITION BY d ORDER BY n RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
      + 1 AS mr2
  FROM gc
),
per_t AS (
  SELECT t, count(*) AS n_blocks, sum(CAST(mr2 AS HUGEINT)) AS r2
  FROM ranked GROUP BY t
),
kn AS (
  SELECT count(DISTINCT t) AS k_treatments, count(DISTINCT d) AS n
  FROM gc
)
SELECT t,
  n_blocks,
  k_treatments,
  CAST(r2 AS DOUBLE) AS rank_sum_x2,
  CAST(r2 AS DOUBLE) / CAST(2 * n_blocks AS DOUBLE) AS mean_rank,
  CAST(r2 - CAST(n AS HUGEINT) * (k_treatments + 1) AS DOUBLE)
    * CAST(r2 - CAST(n AS HUGEINT) * (k_treatments + 1) AS DOUBLE)
    AS chi2_term_x4
FROM per_t CROSS JOIN kn
ORDER BY t
"""


_BROWN_FORSYTHE_SQL = """
WITH vg AS (
  SELECT source AS g, n_chars AS x, count(*) AS c
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2
),
wc AS (
  SELECT g, x, c,
    sum(c) OVER (PARTITION BY g ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY g) AS n
  FROM vg
),
med AS (
  SELECT g,
    min(CASE WHEN cum >= (n + 1) // 2 THEN x END) AS mlo,
    min(CASE WHEN cum >= n // 2 + 1 THEN x END) AS mhi
  FROM wc GROUP BY g
),
z AS (
  SELECT d.source AS g,
    abs(2 * CAST(d.n_chars AS HUGEINT) - (CAST(m.mlo AS HUGEINT) + m.mhi)) AS z2
  FROM documents d JOIN med m ON d.source = m.g
  WHERE d.n_chars IS NOT NULL
),
per AS (
  SELECT g, count(*) AS n_i,
    sum(z2) AS s,
    sum(z2 * z2) AS q
  FROM z GROUP BY g
),
tot AS (SELECT count(*) AS n_total, sum(z2) AS st FROM z)
SELECT g AS source,
  n_i,
  CAST(s AS DOUBLE) AS sum_i,
  CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE) AS mean_i,
  CAST(CAST(n_i AS HUGEINT) * q - s * s AS DOUBLE) / CAST(n_i AS DOUBLE)
    AS within_ss,
  CAST(n_i AS DOUBLE)
    * ((CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE)
        - CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE))
       * (CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE)
          - CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE)))
    AS between_term,
  n_total,
  CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE) AS grand_mean
FROM per CROSS JOIN tot
ORDER BY source
"""


_JONCKHEERE_SQL = """
WITH vg AS (
  SELECT l_linenumber AS g, CAST(floor(l_quantity) AS BIGINT) AS x, count(*) AS c
  FROM lineitem
  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
axis AS (SELECT DISTINCT x FROM vg),
grps AS (SELECT DISTINCT g FROM vg),
grid AS (
  SELECT grps.g, axis.x, coalesce(vg.c, 0) AS c
  FROM axis CROSS JOIN grps
  LEFT JOIN vg ON vg.g = grps.g AND vg.x = axis.x
),
pri AS (
  SELECT g, x, c,
    coalesce(sum(c) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS p,
    sum(c) OVER (PARTITION BY g) AS n
  FROM grid
)
SELECT a.g AS g_lo, b.g AS g_hi,
  CAST(a.n AS BIGINT) AS n_lo, CAST(b.n AS BIGINT) AS n_hi,
  CAST(sum(CAST(b.c AS HUGEINT) * (2 * a.p + a.c)) AS DOUBLE) AS u_x2
FROM pri a JOIN pri b ON a.x = b.x AND a.g < b.g
GROUP BY 1, 2, 3, 4
ORDER BY g_lo, g_hi
"""


_DURBIN_WATSON_SQL = f"""
WITH {DAILY_SQL},
tot AS (
  SELECT t, count(*) AS nn, sum(CAST(n AS HUGEINT)) AS s
  FROM daily GROUP BY t
),
ne AS (
  SELECT daily.t, tot.nn,
    CAST(tot.nn AS HUGEINT) * daily.n - tot.s AS ne,
    lag(CAST(tot.nn AS HUGEINT) * daily.n - tot.s)
      OVER (PARTITION BY daily.t ORDER BY daily.d, daily.n) AS nep
  FROM daily JOIN tot ON daily.t = tot.t
),
agg AS (
  SELECT t, max(nn) AS n,
    sum(CASE WHEN nep IS NOT NULL THEN (ne - nep) * (ne - nep)
             ELSE 0 END) AS num,
    sum(ne * ne) AS den
  FROM ne GROUP BY t
)
SELECT t, n,
  CAST(num AS DOUBLE) AS num,
  CAST(den AS DOUBLE) AS den,
  CASE WHEN den > 0 AND n > 1
       THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS dw
FROM agg ORDER BY t
"""


_MOOD_MEDIAN_SQL = """
WITH g AS (
  SELECT source AS g, n_chars AS x FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
vals AS (SELECT x, count(*) AS c FROM g GROUP BY x),
wc AS (
  SELECT x, c,
    sum(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vals
),
tot AS (SELECT sum(c) AS n FROM vals),
med AS (
  SELECT CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN x END) AS HUGEINT)
       + min(CASE WHEN cum >= n // 2 + 1 THEN x END) AS med2
  FROM wc CROSS JOIN tot
)
SELECT g.g AS source,
  CAST(sum(CASE WHEN 2 * CAST(x AS HUGEINT) > med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
  CAST(sum(CASE WHEN 2 * CAST(x AS HUGEINT) < med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
  CAST(sum(CASE WHEN 2 * CAST(x AS HUGEINT) = med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_at,
  count(*) AS n_i,
  CAST(med2 AS DOUBLE) AS med2_x
FROM g CROSS JOIN med
GROUP BY g.g, med2
ORDER BY source
"""


def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-trend cells: blocks = days, ordered treatments
    = the four six-hour slots of the day, value = the slot's event
    count — does intra-day volume RISE monotonically through the day,
    consistently across days?  The blocked twin of q_jonckheere's
    unblocked ordered question and the ordered twin of q_friedman's
    unordered blocked one.  (operators/stats.py page_trend_cells.)
    Fixture note: lineitem blocks (orders) don't work here — line
    numbers repeat within multi-line orders, so no complete blocks
    exist; the day x slot design is complete almost everywhere.
    """
    from npm_mirror_spark.operators.stats import page_trend_cells

    ev = _t(spark, sf_dir, "events")
    slots = ev.where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        (F.hour("ts").cast("int") / F.lit(6)).cast("int").alias("slot"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return page_trend_cells(slots, "d", "slot", "n")


_PAGE_SQL = """
WITH g AS (
  SELECT date_trunc('day', ts) AS b,
         CAST(CAST(extract(hour FROM ts) AS INTEGER) // 6 AS INTEGER) AS t,
         count(*) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
k AS (SELECT count(DISTINCT t) AS k FROM g),
blocks AS (
  SELECT b FROM g GROUP BY b
  HAVING count(*) = (SELECT k FROM k)
     AND count(DISTINCT t) = (SELECT k FROM k)
),
gc AS (SELECT g.* FROM g JOIN blocks USING (b)),
vb AS (SELECT b, x, count(*) AS cx FROM gc GROUP BY b, x),
pri AS (
  SELECT b, x, cx,
    coalesce(sum(cx) OVER (PARTITION BY b ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
  FROM vb
),
ranked AS (
  SELECT gc.t, 2 * pri.p + pri.cx + 1 AS mr2
  FROM gc JOIN pri ON gc.b = pri.b AND gc.x = pri.x
),
per_t AS (
  SELECT t, count(*) AS n_blocks, sum(CAST(mr2 AS HUGEINT)) AS r2
  FROM ranked GROUP BY t
),
kn AS (SELECT count(DISTINCT t) AS k_treatments FROM gc),
wrank AS (
  SELECT t, CAST(row_number() OVER (ORDER BY t) AS INTEGER) AS w
  FROM (SELECT DISTINCT t FROM gc)
)
SELECT per_t.t AS slot, wrank.w, per_t.n_blocks, kn.k_treatments,
  CAST(r2 AS DOUBLE) AS rank_sum_x2,
  CAST(wrank.w AS DOUBLE) * CAST(r2 AS DOUBLE) AS l_term_x2
FROM per_t JOIN wrank ON per_t.t = wrank.t CROSS JOIN kn
ORDER BY slot
"""


def q_conover_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover squared-ranks scale cells over document lengths by
    source — the rank-based spread companion to q_brown_forsythe
    (same "did a source's length distribution widen?" question, robust
    to the heavy tails where BF's z-means lose power).
    (operators/stats.py conover_scale_cells.)"""
    from npm_mirror_spark.operators.stats import conover_scale_cells

    d = _t(spark, sf_dir, "documents")
    return conover_scale_cells(d, "n_chars", "source")


_CONOVER_SQL = """
WITH g AS (
  SELECT source AS gg, n_chars AS x FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
vg AS (SELECT gg, x, count(*) AS c FROM g GROUP BY 1, 2),
wc AS (
  SELECT gg, x, c,
    sum(c) OVER (PARTITION BY gg ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY gg) AS n
  FROM vg
),
med AS (
  SELECT gg,
    min(CASE WHEN cum >= (n + 1) // 2 THEN x END) AS mlo,
    min(CASE WHEN cum >= n // 2 + 1 THEN x END) AS mhi
  FROM wc GROUP BY gg
),
z AS (
  SELECT g.gg,
    abs(2 * CAST(g.x AS HUGEINT) - (CAST(m.mlo AS HUGEINT) + m.mhi)) AS z2
  FROM g JOIN med m ON g.gg = m.gg
),
zg AS (SELECT gg, z2, count(*) AS cg FROM z GROUP BY 1, 2),
vals AS (SELECT z2, sum(cg) AS c FROM zg GROUP BY z2),
pri AS (
  SELECT z2, c,
    coalesce(sum(c) OVER (ORDER BY z2
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
  FROM vals
),
j AS (
  SELECT zg.gg, zg.cg, 2 * pri.p + pri.c + 1 AS mr2
  FROM zg JOIN pri ON zg.z2 = pri.z2
)
SELECT gg AS source, CAST(sum(cg) AS BIGINT) AS n_i,
  CAST(sum(CAST(cg AS HUGEINT) * mr2 * mr2) AS DOUBLE) AS sum_sq_rank_x4,
  CAST(sum(CAST(cg AS HUGEINT) * mr2 * mr2 * mr2 * mr2) AS DOUBLE)
    AS sum_quad_rank_x16
FROM j GROUP BY gg ORDER BY source
"""


def q_quade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade block-weighted rank cells over daily event-type counts —
    the third member of the blocked family (q_friedman unordered,
    q_page_trend ordered, Quade RANGE-WEIGHTED: days where types
    actually diverge count more).  (operators/stats.py quade_cells.)"""
    from npm_mirror_spark.operators.stats import quade_cells

    ev = _t(spark, sf_dir, "events")
    daily = ev.where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return quade_cells(daily, "d", "t", "n")


_QUADE_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, event_type AS t, count(*) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
k AS (SELECT count(DISTINCT t) AS k FROM daily),
blocks AS (
  SELECT d FROM daily GROUP BY d
  HAVING count(*) = (SELECT k FROM k)
     AND count(DISTINCT t) = (SELECT k FROM k)
),
gc AS (SELECT daily.* FROM daily JOIN blocks USING (d)),
vb AS (SELECT d, n AS x, count(*) AS cx FROM gc GROUP BY 1, 2),
pri AS (
  SELECT d, x, cx,
    coalesce(sum(cx) OVER (PARTITION BY d ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
  FROM vb
),
ranked AS (
  SELECT gc.d, gc.t, 2 * pri.p + pri.cx + 1 AS mr2
  FROM gc JOIN pri ON gc.d = pri.d AND gc.n = pri.x
),
rng AS (SELECT d, max(n) - min(n) AS rg FROM gc GROUP BY d),
rcol AS (SELECT rg, count(*) AS cr FROM rng GROUP BY rg),
rpri AS (
  SELECT rg, cr,
    coalesce(sum(cr) OVER (ORDER BY rg
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rp
  FROM rcol
),
rrank AS (
  SELECT rng.d, 2 * rpri.rp + rpri.cr + 1 AS mrange2
  FROM rng JOIN rpri ON rng.rg = rpri.rg
),
kn AS (SELECT count(DISTINCT t) AS kt FROM gc),
cells AS (
  SELECT ranked.t, kn.kt,
    CAST(rrank.mrange2 AS HUGEINT) * (ranked.mr2 - (kn.kt + 1)) AS term
  FROM ranked JOIN rrank ON ranked.d = rrank.d CROSS JOIN kn
)
SELECT t, CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(kt AS BIGINT) AS k_treatments,
  CAST(sum(term) AS DOUBLE) AS s_x4,
  CAST(sum(term * term) AS DOUBLE) AS ss_x16
FROM cells GROUP BY t, kt ORDER BY t
"""


def q_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta dominance census between document sources on
    length — the ordinal effect size q_rank_sum/q_kruskal leave out:
    per source pair, the exact (gt, lt, ties) pair counts and delta in
    [-1, 1].  (operators/stats.py cliff_delta_cells; the jonckheere
    grid machinery, so the value axis rides the same ordinal-domain
    contract.)"""
    from npm_mirror_spark.operators.stats import cliff_delta_cells

    d = _t(spark, sf_dir, "documents")
    return cliff_delta_cells(d, "n_chars", "source")


_CLIFF_SQL = """
WITH g AS (
  SELECT source AS gg, n_chars AS x FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
vg AS (SELECT gg, x, count(*) AS c FROM g GROUP BY 1, 2),
axis AS (SELECT DISTINCT x FROM vg),
grps AS (SELECT DISTINCT gg FROM vg),
grid AS (
  SELECT grps.gg, axis.x, coalesce(vg.c, 0) AS c
  FROM axis CROSS JOIN grps
  LEFT JOIN vg ON vg.gg = grps.gg AND vg.x = axis.x
),
pri AS (
  SELECT gg, x, c,
    coalesce(sum(c) OVER (PARTITION BY gg ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
    sum(c) OVER (PARTITION BY gg) AS n
  FROM grid
),
per AS (
  SELECT a.gg AS g_lo, b.gg AS g_hi,
    max(a.n) AS nlo, max(b.n) AS nhi,
    sum(CAST(b.c AS HUGEINT) * a.p) AS gt,
    sum(CAST(b.c AS HUGEINT) * a.c) AS ties
  FROM pri a JOIN pri b ON a.x = b.x AND a.gg < b.gg
  GROUP BY 1, 2
)
SELECT g_lo, g_hi,
  CAST(nlo AS BIGINT) AS n_lo, CAST(nhi AS BIGINT) AS n_hi,
  CAST(gt AS DOUBLE) AS gt,
  CAST(CAST(nlo AS HUGEINT) * nhi - gt - ties AS DOUBLE) AS lt,
  CAST(ties AS DOUBLE) AS ties,
  CAST(gt - (CAST(nlo AS HUGEINT) * nhi - gt - ties) AS DOUBLE)
    / CAST(CAST(nlo AS HUGEINT) * nhi AS DOUBLE) AS delta
FROM per ORDER BY g_lo, g_hi
"""


def q_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank over paired per-user activity: each user's
    event count in the FIRST half of the observed window vs the
    SECOND half (halves split at the integer-midpoint day of the
    global [min, max] ts range — data-derived, deterministic).  The
    paired companion to q_rank_sum: same user, two periods — did
    activity shift?  (operators/stats.py signed_rank_cells.)"""
    from npm_mirror_spark.operators.stats import signed_rank_cells

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("ts").cast("date").alias("__day")
    ).filter(F.col("user_id").isNotNull() & F.col("__day").isNotNull())
    bounds = ev.agg(
        F.min("__day").alias("__lo"), F.max("__day").alias("__hi")
    )
    mid = F.date_add(
        F.col("__lo"),
        F.floor(F.datediff(F.col("__hi"), F.col("__lo")) / 2).cast("int"),
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .select("user_id", (F.col("__day") < mid).alias("__in_first"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("__in_first"), 1).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("__in_first"), 0).otherwise(1)).alias("y"),
        )
    )
    return signed_rank_cells(per_user, "x", "y")


_SIGNED_RANK_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
bounds AS (
  SELECT min(day) AS lo,
    min(day) + INTERVAL 1 DAY
      * CAST(floor(date_diff('day', min(day), max(day)) / 2) AS BIGINT)
      AS mid
  FROM ev
),
per_user AS (
  SELECT user_id,
    sum(CASE WHEN day < (SELECT mid FROM bounds) THEN 1 ELSE 0 END) AS x,
    sum(CASE WHEN day < (SELECT mid FROM bounds) THEN 0 ELSE 1 END) AS y
  FROM ev GROUP BY user_id
),
d AS (SELECT CAST(x AS BIGINT) - CAST(y AS BIGINT) AS d FROM per_user),
alln AS (
  SELECT count(*) AS n_pairs,
    sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS n_zero
  FROM d
),
per_v AS (
  SELECT abs(d) AS ad,
    sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cnt_p,
    sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS cnt_n
  FROM d WHERE d != 0 GROUP BY abs(d)
),
pri AS (
  SELECT ad, cnt_p, cnt_n,
    coalesce(sum(cnt_p + cnt_n) OVER (ORDER BY ad
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per_v
),
sums AS (
  SELECT
    coalesce(sum(CAST(cnt_p AS HUGEINT)
                 * (2 * below + cnt_p + cnt_n + 1)), 0) AS w_plus_x2,
    coalesce(sum(CAST(cnt_n AS HUGEINT)
                 * (2 * below + cnt_p + cnt_n + 1)), 0) AS w_minus_x2,
    coalesce(sum(cnt_p + cnt_n), 0) AS n_nonzero
  FROM pri
)
SELECT n_pairs, CAST(n_zero AS BIGINT) AS n_zero,
  CAST(n_nonzero AS BIGINT) AS n_nonzero,
  CAST(w_plus_x2 AS DOUBLE) AS w_plus_x2,
  CAST(w_minus_x2 AS DOUBLE) AS w_minus_x2,
  CASE WHEN n_nonzero > 0
       THEN CAST(w_plus_x2 - w_minus_x2 AS DOUBLE)
            / CAST(CAST(n_nonzero AS HUGEINT) * (n_nonzero + 1) AS DOUBLE)
       END AS rank_biserial
FROM alln, sums
"""


def q_cvm2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises cells: returned lines
    (l_returnflag = 'R') vs the rest over the integral quantity axis
    (floor(l_quantity), 1..50 — bounded by construction).  The
    whole-CDF companion to the registered q_ks_stat; the statistic is
    the consumer Sigma over these 50 rows.  (operators/stats.py
    cvm2_cells.)"""
    from npm_mirror_spark.operators.stats import cvm2_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return cvm2_cells(li, "qty", F.col("ret"))


_CVM2_SQL = """
WITH src AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,
    coalesce(l_returnflag = 'R', FALSE) AS ret
  FROM lineitem WHERE l_quantity IS NOT NULL
),
g AS (
  SELECT qty,
    sum(CASE WHEN ret THEN 1 ELSE 0 END) AS cnt_a,
    sum(CASE WHEN ret THEN 0 ELSE 1 END) AS cnt_b
  FROM src GROUP BY qty
),
tot AS (
  SELECT sum(cnt_a) AS n1, sum(cnt_b) AS n2 FROM g
),
pri AS (
  SELECT qty, cnt_a, cnt_b,
    sum(cnt_a) OVER (ORDER BY qty
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
    sum(cnt_b) OVER (ORDER BY qty
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM g
)
SELECT qty, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
  CAST(ca AS BIGINT) AS cum_a, CAST(cb AS BIGINT) AS cum_b,
  CAST(CAST(ca AS HUGEINT) * tot.n2
       - CAST(cb AS HUGEINT) * tot.n1 AS DOUBLE) AS diff_num,
  CAST(cnt_a + cnt_b AS BIGINT) AS w
FROM pri, tot ORDER BY qty
"""


def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance over the daily
    (day-block x event-type) count design — the tie-corrected
    effect-size reading of the registered q_friedman's fixture: how
    strongly do the days agree on the event-type ordering?
    (operators/stats.py kendall_w_cells.)"""
    from npm_mirror_spark.operators.stats import kendall_w_cells

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return kendall_w_cells(daily, "d", "t", "n")


_KENDALL_W_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, event_type AS t, count(*) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY date_trunc('day', ts), event_type
),
k AS (SELECT count(DISTINCT t) AS k FROM daily),
blocks AS (
  SELECT d FROM daily GROUP BY d
  HAVING count(*) = (SELECT k FROM k)
     AND count(DISTINCT t) = (SELECT k FROM k)
),
gc AS (SELECT daily.* FROM daily JOIN blocks USING (d)),
vb AS (SELECT d, n, count(*) AS cx FROM gc GROUP BY d, n),
pri AS (
  SELECT d, n, cx,
    coalesce(sum(cx) OVER (PARTITION BY d ORDER BY n
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
  FROM vb
),
ranked AS (
  SELECT gc.t, 2 * pri.prior + pri.cx + 1 AS mr2
  FROM gc JOIN pri ON gc.d = pri.d AND gc.n = pri.n
),
ties AS (
  SELECT coalesce(sum(CAST(cx AS HUGEINT) * cx * cx - cx), 0) AS tie_sum
  FROM vb
),
per_t AS (
  SELECT t, count(*) AS nb, sum(CAST(mr2 AS HUGEINT)) AS r2
  FROM ranked GROUP BY t
),
folded AS (
  SELECT max(nb) AS n_blocks, (SELECT k FROM k) AS k_treatments,
    coalesce(sum(
      (r2 - CAST(nb AS HUGEINT) * ((SELECT k FROM k) + 1))
      * (r2 - CAST(nb AS HUGEINT) * ((SELECT k FROM k) + 1))
    ), 0) AS s_x4
  FROM per_t
),
one AS (
  SELECT n_blocks, k_treatments, s_x4, tie_sum,
    CAST(n_blocks AS HUGEINT) * n_blocks
      * (CAST(k_treatments AS HUGEINT) * k_treatments * k_treatments
         - k_treatments)
      - CAST(n_blocks AS HUGEINT) * tie_sum AS den
  FROM folded, ties
)
SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
  CAST(k_treatments AS BIGINT) AS k_treatments,
  CAST(s_x4 AS DOUBLE) AS s_x4,
  CAST(tie_sum AS DOUBLE) AS tie_sum,
  CASE WHEN den > 0
       THEN CAST(3 * s_x4 AS DOUBLE) / CAST(den AS DOUBLE) END AS w
FROM one
"""


def q_dixon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q gap-to-range outlier cells over the daily order-count
    series — the order-statistic suspicion gate on the q_buishand
    fixture.  (operators/stats.py dixon_q_cells.)"""
    from npm_mirror_spark.operators.stats import dixon_q_cells

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return dixon_q_cells(daily, "day", "n")


_DIXON_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
ext AS (
  SELECT count(*) AS n_days, min(n) AS x_min, max(n) AS x_max FROM daily
),
sec AS (
  SELECT max(ext.n_days) AS n_days, max(ext.x_min) AS x_min,
    max(ext.x_max) AS x_max,
    sum(CASE WHEN n = ext.x_min THEN 1 ELSE 0 END) AS cmin,
    sum(CASE WHEN n = ext.x_max THEN 1 ELSE 0 END) AS cmax,
    min(CASE WHEN n > ext.x_min THEN n END) AS above_min,
    max(CASE WHEN n < ext.x_max THEN n END) AS below_max
  FROM daily CROSS JOIN ext
),
one AS (
  SELECT n_days, x_min, x_max,
    CASE WHEN cmin > 1 THEN x_min ELSE above_min END AS x_min2,
    CASE WHEN cmax > 1 THEN x_max ELSE below_max END AS x_max2
  FROM sec
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CAST(x_min AS BIGINT) AS x_min,
  CAST(x_min2 AS BIGINT) AS x_min2,
  CAST(x_max2 AS BIGINT) AS x_max2,
  CAST(x_max AS BIGINT) AS x_max,
  CASE WHEN x_max > x_min
       THEN CAST(x_min2 - x_min AS DOUBLE) / CAST(x_max - x_min AS DOUBLE)
       END AS q_low,
  CASE WHEN x_max > x_min
       THEN CAST(x_max - x_max2 AS DOUBLE) / CAST(x_max - x_min AS DOUBLE)
       END AS q_high
FROM one
"""


def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style most-extreme-day cells over the daily event-count
    series (n-scaled exact deviations; the studentized G is the
    consumer one-liner) — which day's volume sits furthest from the
    mean, and which side?  (operators/stats.py grubbs_cells.)"""
    from npm_mirror_spark.operators.stats import grubbs_cells

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return grubbs_cells(daily, "day", "n")


_GRUBBS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events
  WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
tot AS (
  SELECT count(*) AS n_days,
    sum(CAST(n AS HUGEINT)) AS t,
    sum(CAST(n AS HUGEINT) * n) AS q
  FROM daily
),
scored AS (
  SELECT day,
    abs(CAST(tot.n_days AS HUGEINT) * n - tot.t) AS adev,
    CASE WHEN CAST(tot.n_days AS HUGEINT) * n - tot.t > 0 THEN 1
         WHEN CAST(tot.n_days AS HUGEINT) * n - tot.t < 0 THEN -1
         ELSE 0 END AS sgn
  FROM daily CROSS JOIN tot
),
pick AS (
  SELECT day, adev, sgn FROM scored
  ORDER BY adev DESC, day ASC LIMIT 1
)
SELECT CAST(tot.n_days AS BIGINT) AS n_days,
  CAST(tot.t AS DOUBLE) AS total,
  CAST(tot.q AS DOUBLE) AS sum_sq,
  CAST(pick.adev AS DOUBLE) AS max_dev_xn,
  pick.day AS at_day,
  CAST(pick.sgn AS INTEGER) AS dev_sign
FROM tot LEFT JOIN pick ON TRUE
"""


def q_rank_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint location-scale rank cells for returned lines vs the rest
    over the integral quantity axis — the Wilcoxon / Ansari-Bradley /
    Cucconi reading of the exact fixture q_cvm2 reads as a whole-CDF
    distance (and q_rank_sum reads as location only).
    (operators/stats.py rank_scale_cells.)"""
    from npm_mirror_spark.operators.stats import rank_scale_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return rank_scale_cells(li, "qty", F.col("ret"))


_RANK_SCALE_SQL = """
WITH src AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS v,
    coalesce(l_returnflag = 'R', FALSE) AS ret
  FROM lineitem WHERE l_quantity IS NOT NULL
),
g AS (
  SELECT v,
    sum(CASE WHEN ret THEN 1 ELSE 0 END) AS cnt_a,
    sum(CASE WHEN ret THEN 0 ELSE 1 END) AS cnt_b
  FROM src GROUP BY v
),
tot AS (SELECT sum(cnt_a) AS n1, sum(cnt_b) AS n2 FROM g),
pri AS (
  SELECT cnt_a, cnt_b,
    coalesce(sum(cnt_a + cnt_b) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM g
),
scored AS (
  SELECT cnt_a,
    CAST(2 * below + cnt_a + cnt_b + 1 AS HUGEINT) AS mr2,
    CAST(tot.n1 + tot.n2 + 1 AS HUGEINT) AS np1
  FROM pri CROSS JOIN tot
),
sums AS (
  SELECT
    coalesce(sum(CAST(cnt_a AS HUGEINT) * mr2), 0) AS r,
    coalesce(sum(CAST(cnt_a AS HUGEINT)
                 * (np1 - abs(mr2 - np1))), 0) AS ab,
    coalesce(sum(CAST(cnt_a AS HUGEINT) * (mr2 * mr2)), 0) AS u,
    coalesce(sum(CAST(cnt_a AS HUGEINT)
                 * ((2 * np1 - mr2) * (2 * np1 - mr2))), 0) AS v2
  FROM scored
)
SELECT CAST(tot.n1 AS BIGINT) AS n1, CAST(tot.n2 AS BIGINT) AS n2,
  CAST(r AS DOUBLE) AS r_a_x2,
  CAST(ab AS DOUBLE) AS ab_a_x2,
  CAST(u AS DOUBLE) AS u_a_x4,
  CAST(v2 AS DOUBLE) AS v_a_x4
FROM tot CROSS JOIN sums
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality cells over the daily event-count series —
    the moment-based shape gate for the z-score-flavored faces
    (q_zscore_outliers, q_grubbs) that silently assume normal daily
    volume.  (operators/stats.py moments_jb_cells.)"""
    from npm_mirror_spark.operators.stats import moments_jb_cells

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return moments_jb_cells(daily, "n")


_JB_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events
  WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
    sum(CAST(n AS HUGEINT)) AS s1,
    sum(CAST(n AS HUGEINT) * n) AS s2,
    sum(CAST(n AS HUGEINT) * n * n) AS s3,
    sum(CAST(n AS HUGEINT) * n * n * n) AS s4
  FROM daily
),
staged AS (
  SELECT CAST(n AS BIGINT) AS n_rows,
    CAST(coalesce(s1, 0) AS DOUBLE) AS s1,
    CAST(n * s2 - s1 * s1 AS DOUBLE) AS m2_xn,
    CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)
      AS m3_xn2,
    CAST(n * n * n * s4 - 4 * n * n * s1 * s3
         + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)
      AS m4_xn3
  FROM tot
)
SELECT n_rows, s1, m2_xn, m3_xn2, m4_xn3,
  CASE WHEN m2_xn > 0
       THEN (m3_xn2 * m3_xn2) / (m2_xn * m2_xn * m2_xn) END AS skew_sq,
  CASE WHEN m2_xn > 0 THEN m4_xn3 / (m2_xn * m2_xn) END AS kurt_b2,
  CASE WHEN m2_xn > 0
       THEN CAST(n_rows AS DOUBLE) / 6.0
            * ((m3_xn2 * m3_xn2) / (m2_xn * m2_xn * m2_xn)
               + (m4_xn3 / (m2_xn * m2_xn) - 3.0)
                 * (m4_xn3 / (m2_xn * m2_xn) - 3.0) / 4.0)
       END AS jb
FROM staged
"""


def q_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper V between urgent-priority orders (1-URGENT / 2-HIGH) and
    the rest over the total-price kilobucket axis — the dual-tail
    companion to the registered q_ks_stat: do urgent orders push price
    mass out of BOTH ends?  (operators/stats.py kuiper_2samp_cells.)"""
    from npm_mirror_spark.operators.stats import kuiper_2samp_cells

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("kp"),
        F.substring("o_orderpriority", 1, 1).isin("1", "2").alias("urgent"),
    )
    return kuiper_2samp_cells(o, "kp", F.col("urgent"))


_KUIPER_SQL = """
WITH src AS (
  SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS v,
    substr(o_orderpriority, 1, 1) IN ('1', '2') AS a
  FROM orders
),
g AS (
  SELECT v,
    sum(CASE WHEN a THEN 1 ELSE 0 END) AS cnt_a,
    sum(CASE WHEN a THEN 0 ELSE 1 END) AS cnt_b
  FROM src GROUP BY v
),
tot AS (SELECT sum(cnt_a) AS n1, sum(cnt_b) AS n2 FROM g),
pri AS (
  SELECT
    sum(cnt_a) OVER (ORDER BY v) AS cum_a,
    sum(cnt_b) OVER (ORDER BY v) AS cum_b
  FROM g
),
folded AS (
  SELECT
    greatest(coalesce(max(CAST(cum_a AS HUGEINT) * tot.n2
                          - CAST(cum_b AS HUGEINT) * tot.n1), 0), 0)
      AS dp,
    greatest(coalesce(max(-(CAST(cum_a AS HUGEINT) * tot.n2
                            - CAST(cum_b AS HUGEINT) * tot.n1)), 0), 0)
      AS dm,
    max(tot.n1) AS n1, max(tot.n2) AS n2
  FROM pri CROSS JOIN tot
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(dp AS DOUBLE) AS d_plus_num,
  CAST(dm AS DOUBLE) AS d_minus_num,
  CAST(dp + dm AS DOUBLE) AS v_num,
  CASE WHEN n1 > 0 AND n2 > 0
       THEN CAST(dp + dm AS DOUBLE)
            / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
       END AS v
FROM folded
"""


def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann shift estimate between returned-line and
    kept-line quantities — the robust effect size for the location
    question q_rank_sum answers with a yes/no, on the same fixture.
    (operators/stats.py hodges_lehmann_2samp.)"""
    from npm_mirror_spark.operators.stats import hodges_lehmann_2samp

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return hodges_lehmann_2samp(li, "qty", F.col("ret"))


_HL_SQL = """
WITH src AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS v,
    coalesce(l_returnflag = 'R', FALSE) AS ret
  FROM lineitem WHERE l_quantity IS NOT NULL
),
g AS (
  SELECT v,
    sum(CASE WHEN ret THEN 1 ELSE 0 END) AS cnt_a,
    sum(CASE WHEN ret THEN 0 ELSE 1 END) AS cnt_b
  FROM src GROUP BY v
),
tot AS (SELECT sum(cnt_a) AS n1, sum(cnt_b) AS n2 FROM g),
diffs AS (
  SELECT a.v - b.v AS d,
    sum(CAST(a.cnt_a AS HUGEINT) * b.cnt_b) AS w
  FROM (SELECT v, cnt_a FROM g WHERE cnt_a > 0) a
  CROSS JOIN (SELECT v, cnt_b FROM g WHERE cnt_b > 0) b
  GROUP BY a.v - b.v
),
cum AS (
  SELECT d, sum(w) OVER (ORDER BY d) AS cum, sum(w) OVER () AS np
  FROM diffs
),
med AS (
  SELECT min(CASE WHEN cum >= (np + 1) // 2 THEN d END)
       + min(CASE WHEN cum >= np // 2 + 1 THEN d END) AS hl2
  FROM cum
)
SELECT CAST(tot.n1 AS BIGINT) AS n1, CAST(tot.n2 AS BIGINT) AS n2,
  CAST(CAST(tot.n1 AS HUGEINT) * tot.n2 AS DOUBLE) AS n_pairs,
  CAST(med.hl2 AS DOUBLE) AS hl2_x,
  CAST(med.hl2 AS DOUBLE) / 2.0 AS hl
FROM tot CROSS JOIN med
"""


def q_cuzick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuzick's trend test across the five ordered order priorities on
    the floored total-price axis — does price drift monotonically with
    urgency?  The unblocked rank-trend companion to the registered
    q_jonckheere (pairwise dominances) and the staged q_somers_d
    (grid concordance) on the priority axis.  (operators/stats.py
    cuzick_trend_cells.)"""
    from npm_mirror_spark.operators.stats import cuzick_trend_cells

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice")).cast("long").alias("price"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("prio"),
    )
    return cuzick_trend_cells(o, "price", "prio")


_CUZICK_SQL = """
WITH src AS (
  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS l
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
gv AS (SELECT v, l, count(*) AS c FROM src GROUP BY v, l),
axis AS (SELECT v, sum(c) AS ct FROM gv GROUP BY v),
pri AS (
  SELECT v,
    2 * coalesce(sum(ct) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1
      AS mr2
  FROM axis
),
folded AS (
  SELECT sum(gv.c) AS n_rows,
    count(DISTINCT gv.l) AS k_groups,
    coalesce(sum(CAST(gv.c AS HUGEINT) * gv.l * pri.mr2), 0) AS t2,
    coalesce(sum(CAST(gv.c AS HUGEINT) * gv.l), 0) AS lsum,
    coalesce(sum(CAST(gv.c AS HUGEINT) * gv.l * gv.l), 0) AS l2n
  FROM gv JOIN pri ON gv.v = pri.v
),
ties AS (
  SELECT coalesce(sum(CAST(ct AS HUGEINT) * ct * ct - ct), 0) AS tcube
  FROM axis
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
  CAST(k_groups AS BIGINT) AS k_groups,
  CAST(t2 AS DOUBLE) AS t_x2,
  CAST((CAST(n_rows AS HUGEINT) + 1) * lsum AS DOUBLE) AS e_t_x2,
  CAST(lsum AS DOUBLE) AS sum_ln,
  CAST(l2n AS DOUBLE) AS sum_l2n,
  CAST(tcube AS DOUBLE) AS tie_cube_sum
FROM folded CROSS JOIN ties
"""


def q_aligned_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman aligned-ranks over the (day-block x event-type) count
    design — the cross-block-magnitude-aware reading of the registered
    q_friedman / staged q_kendall_w question: do event types rank
    consistently once each day's overall volume is aligned out?
    (operators/stats.py aligned_ranks_cells.)"""
    from npm_mirror_spark.operators.stats import aligned_ranks_cells

    ev = _t(spark, sf_dir, "events")
    daily = ev.filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return aligned_ranks_cells(daily, "d", "t", "n")


_ALIGNED_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, event_type AS t, count(*) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY date_trunc('day', ts), event_type
),
kf AS (SELECT count(DISTINCT t) AS k FROM daily),
per_b AS (
  SELECT d, count(*) AS nr, count(DISTINCT t) AS nt,
    sum(CAST(n AS HUGEINT)) AS bs
  FROM daily GROUP BY d
),
complete AS (
  SELECT per_b.d, per_b.bs, kf.k FROM per_b, kf
  WHERE nr = k AND nt = k
),
aligned AS (
  SELECT daily.d, daily.t,
    CAST(complete.k AS HUGEINT) * daily.n - complete.bs AS a
  FROM daily JOIN complete ON daily.d = complete.d
),
vc AS (SELECT a, count(*) AS c FROM aligned GROUP BY a),
mr AS (
  SELECT a,
    2 * coalesce(sum(c) OVER (ORDER BY a
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      AS mr2
  FROM vc
),
ranked AS (
  SELECT aligned.d, aligned.t, CAST(mr.mr2 AS HUGEINT) AS mr2
  FROM aligned JOIN mr ON aligned.a = mr.a
),
per_t AS (
  SELECT t, count(*) AS n_blocks, sum(mr2) AS r2
  FROM ranked GROUP BY t
),
meta AS (SELECT coalesce(sum(mr2 * mr2), 0) AS tsq FROM ranked),
bsq AS (
  SELECT coalesce(sum(bsum * bsum), 0) AS v
  FROM (SELECT sum(mr2) AS bsum FROM ranked GROUP BY d)
),
kmeta AS (SELECT count(DISTINCT t) AS k_treatments FROM aligned)
SELECT per_t.t,
  CAST(per_t.n_blocks AS BIGINT) AS n_blocks,
  CAST(kmeta.k_treatments AS BIGINT) AS k_treatments,
  CAST(per_t.r2 AS DOUBLE) AS r_x2,
  CAST(meta.tsq AS DOUBLE) AS total_sq_x4,
  CAST(bsq.v AS DOUBLE) AS block_sq_sum_x4
FROM per_t, meta, bsq, kmeta
ORDER BY per_t.t
"""


def q_yuen_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen trimmed/winsorized cells between returned-line and
    kept-line quantities — the tail-proof reading of the location
    question q_rank_sum answers ordinally and q_hodges_lehmann
    answers as a shift estimate, on the same fixture.
    (operators/stats.py trimmed_cells.)"""
    from npm_mirror_spark.operators.stats import trimmed_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return trimmed_cells(li, "qty", F.col("ret"))


_YUEN_SQL = """
WITH src AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS v,
    coalesce(l_returnflag = 'R', FALSE) AS a
  FROM lineitem WHERE l_quantity IS NOT NULL
),
g AS (SELECT a, v, count(*) AS c FROM src GROUP BY a, v),
pri AS (
  SELECT a, v, c,
    coalesce(sum(c) OVER (PARTITION BY a ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
    sum(c) OVER (PARTITION BY a) AS n
  FROM g
),
per AS (
  SELECT a, max(n) AS n_i, max(n // 5) AS g_trim,
    coalesce(sum(greatest(0, least(p + c, n - n // 5)
                             - greatest(p, n // 5))
                 * CAST(v AS HUGEINT)), 0) AS ts,
    coalesce(sum(greatest(0, least(p + c, n - n // 5)
                             - greatest(p, n // 5))
                 * CAST(v AS HUGEINT) * v), 0) AS tq,
    min(CASE WHEN p + c >= n // 5 + 1 THEN v END) AS vlo,
    min(CASE WHEN p + c >= n - n // 5 THEN v END) AS vhi
  FROM pri GROUP BY a
)
SELECT a AS in_a,
  CAST(n_i AS BIGINT) AS n_i,
  CAST(g_trim AS BIGINT) AS g_trim,
  CAST(n_i - 2 * g_trim AS BIGINT) AS trim_n,
  CAST(ts AS DOUBLE) AS trim_sum,
  CAST(ts + CAST(g_trim AS HUGEINT) * (CAST(vlo AS HUGEINT) + vhi)
       AS DOUBLE) AS win_sum,
  CAST(tq + CAST(g_trim AS HUGEINT)
            * (CAST(vlo AS HUGEINT) * vlo + CAST(vhi AS HUGEINT) * vhi)
       AS DOUBLE) AS win_sumsq,
  CASE WHEN n_i - 2 * g_trim > 0
       THEN CAST(ts AS DOUBLE) / CAST(n_i - 2 * g_trim AS DOUBLE)
       END AS trim_mean
FROM per ORDER BY in_a
"""


def q_robust_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley quartile skew + Moors octile kurtosis of the daily
    event-count series — the robust shape reading next to
    q_jarque_bera's moment-based one on the SAME series: when the two
    disagree, the tails are lying to the moments.
    (operators/stats.py robust_shape_cells.)"""
    from npm_mirror_spark.operators.stats import robust_shape_cells

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return robust_shape_cells(daily, "n")


def _octile_sql(num: int) -> str:
    return f"""
    CASE WHEN (n * {num}) % 8 = 0
         THEN min(CASE WHEN cum >= (n * {num}) // 8 THEN v END)
              + min(CASE WHEN cum >= (n * {num}) // 8 + 1 THEN v END)
         ELSE 2 * min(CASE WHEN cum >= (n * {num}) // 8 + 1 THEN v END)
    END AS e{num}_2"""


_ROBUST_SHAPE_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS nn FROM events
  WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
vals AS (SELECT nn AS v, count(*) AS c FROM daily GROUP BY nn),
pri AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
  FROM vals
),
picks AS (
  SELECT max(n) AS n_rows,
{",".join(_octile_sql(i) for i in range(1, 8))}
  FROM pri GROUP BY n
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
  {", ".join(f"CAST(e{i}_2 AS DOUBLE) AS e{i}_2" for i in range(1, 8))},
  CASE WHEN e6_2 - e2_2 > 0
       THEN (CAST(e6_2 AS DOUBLE) + CAST(e2_2 AS DOUBLE)
             - 2.0 * CAST(e4_2 AS DOUBLE))
            / (CAST(e6_2 AS DOUBLE) - CAST(e2_2 AS DOUBLE))
       END AS bowley,
  CASE WHEN e6_2 - e2_2 > 0
       THEN ((CAST(e7_2 AS DOUBLE) - CAST(e5_2 AS DOUBLE))
             + (CAST(e3_2 AS DOUBLE) - CAST(e1_2 AS DOUBLE)))
            / (CAST(e6_2 AS DOUBLE) - CAST(e2_2 AS DOUBLE))
       END AS moors
FROM picks
"""


def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot-fence outlier census over floored order total
    price — the quartile-rule outlier gate next to the z-score and
    MAD gates (q_zscore_outliers / q_mad_outliers), assumption-free
    where those need symmetric or light tails.  (operators/stats.py
    tukey_fence_cells.)"""
    from npm_mirror_spark.operators.stats import tukey_fence_cells

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice")).cast("long").alias("price")
    )
    return tukey_fence_cells(o, "price")


def _quartile_sql(num: int, alias: str) -> str:
    return f"""
    CASE WHEN (n * {num}) % 4 = 0
         THEN min(CASE WHEN cum >= (n * {num}) // 4 THEN v END)
              + min(CASE WHEN cum >= (n * {num}) // 4 + 1 THEN v END)
         ELSE 2 * min(CASE WHEN cum >= (n * {num}) // 4 + 1 THEN v END)
    END AS {alias}"""


_TUKEY_SQL = f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders
  WHERE o_totalprice IS NOT NULL
),
vals AS (SELECT v, count(*) AS c FROM src GROUP BY v),
pri AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
  FROM vals
),
quart AS (
  SELECT
{_quartile_sql(1, "q1")},
{_quartile_sql(2, "q2")},
{_quartile_sql(3, "q3")}
  FROM pri GROUP BY n
),
fences AS (
  SELECT q1, q2, q3,
    5 * CAST(q1 AS HUGEINT) - 3 * q3 AS lo4,
    5 * CAST(q3 AS HUGEINT) - 3 * q1 AS hi4
  FROM quart
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  max(CAST(q1 AS DOUBLE)) AS q1_2,
  max(CAST(q2 AS DOUBLE)) AS med2,
  max(CAST(q3 AS DOUBLE)) AS q3_2,
  max(CAST(lo4 AS DOUBLE)) AS lo_fence_x4,
  max(CAST(hi4 AS DOUBLE)) AS hi_fence_x4,
  CAST(sum(CASE WHEN 4 * CAST(v AS HUGEINT) < lo4 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_low_out,
  CAST(sum(CASE WHEN 4 * CAST(v AS HUGEINT) > hi4 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_high_out,
  CASE WHEN count(*) > 0
       THEN CAST(sum(CASE WHEN 4 * CAST(v AS HUGEINT) < lo4
                           OR 4 * CAST(v AS HUGEINT) > hi4
                          THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE)
       END AS out_rate
FROM src CROSS JOIN fences
"""


def q_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal-strength cells: one-way ANOVA of the daily
    order counts across the 7 weekday groups — how much of daily
    volume variance IS the weekly cycle?  The variance-decomposition
    reading next to q_morans_i (lag-7 co-movement) and q_seasonal_mk
    (within-weekday trend) on the same calendar; eta^2 =
    Sigma between_term / (Sigma between + Sigma within) is the
    consumer one-liner over the 7 emitted rows.
    (operators/stats.py anova_cells, the q_anova_cells machinery on
    a calendar fixture.)"""
    from npm_mirror_spark.operators.stats import anova_cells

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    g = daily.select(F.weekday("day").alias("wd"), "n")
    return anova_cells(g, "n", "wd")


_WEEKDAY_ANOVA_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
g AS (SELECT isodow(day) - 1 AS wd, CAST(n AS BIGINT) AS x FROM daily),
per AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS n_i,
    sum(CAST(x AS HUGEINT)) AS s,
    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
  FROM g GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
    sum(CAST(x AS HUGEINT)) AS st
  FROM g
),
m AS (
  SELECT per.wd, per.n_i, per.s, per.q, tot.n_total,
    CAST(CAST(per.s AS VARCHAR) AS DOUBLE) / CAST(per.n_i AS DOUBLE)
      AS mean_i,
    CAST(CAST(tot.st AS VARCHAR) AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
      AS grand_mean
  FROM per CROSS JOIN tot
)
SELECT wd, n_i,
  CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_i,
  mean_i,
  CAST(CAST(n_i * q - s * s AS VARCHAR) AS DOUBLE)
    / CAST(n_i AS DOUBLE) AS within_ss,
  CAST(n_i AS DOUBLE) * ((mean_i - grand_mean) * (mean_i - grand_mean))
    AS between_term,
  n_total, grand_mean
FROM m
ORDER BY wd
"""


def q_shift_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doksum shift function at the octiles between returned-line and
    kept-line quantities — WHERE the shift q_hodges_lehmann summarizes
    as one number actually lives (flat center + divergent tail = the
    contaminated-corpus signature).  (operators/stats.py
    shift_function_cells.)"""
    from npm_mirror_spark.operators.stats import shift_function_cells

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return shift_function_cells(li, "qty", F.col("ret"))


def _octile_case(side: str) -> str:
    return " ".join(
        f"WHEN {i} THEN {side}{i}" for i in range(1, 8)
    )


_SHIFT_SQL = f"""
WITH src AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS v,
    coalesce(l_returnflag = 'R', FALSE) AS a
  FROM lineitem WHERE l_quantity IS NOT NULL
),
gv AS (SELECT a, v, count(*) AS c FROM src GROUP BY a, v),
pri AS (
  SELECT a, v, c,
    coalesce(sum(c) OVER (PARTITION BY a ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
    sum(c) OVER (PARTITION BY a) AS n
  FROM gv
),
per AS (
  SELECT a,
{",".join(
    f'''    CASE WHEN (n * {i}) % 8 = 0
         THEN min(CASE WHEN p + c >= (n * {i}) // 8 THEN v END)
              + min(CASE WHEN p + c >= (n * {i}) // 8 + 1 THEN v END)
         ELSE 2 * min(CASE WHEN p + c >= (n * {i}) // 8 + 1 THEN v END)
    END AS e{i}''' for i in range(1, 8)
)}
  FROM pri GROUP BY a, n
),
one AS (
  SELECT
{",".join(
    f"    max(CASE WHEN a THEN e{i} END) AS a{i},"
    f" max(CASE WHEN NOT a THEN e{i} END) AS b{i}" for i in range(1, 8)
)}
  FROM per
)
SELECT o.i AS octile,
  CAST(CASE o.i {_octile_case("a")} END AS DOUBLE) AS qa_2,
  CAST(CASE o.i {_octile_case("b")} END AS DOUBLE) AS qb_2,
  CAST(CASE o.i {_octile_case("a")} END
       - CASE o.i {_octile_case("b")} END AS DOUBLE) AS diff_x2
FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) o(i) CROSS JOIN one
ORDER BY octile
"""


def q_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half rank stability of user activity: Spearman rho
    between each user's even-event-id and odd-event-id counts — the
    reliability question for any per-user ranking signal (a ranking
    that can't agree with itself across a random half-split can't be
    trusted against tomorrow's data).  Registered spearman_rho
    machinery on the deterministic parity split.  (operators/stats.py
    spearman_rho.)"""
    from npm_mirror_spark.operators.stats import spearman_rho

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    d = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias(
            "h_even"
        ),
        F.sum(F.when(F.col("event_id") % 2 != 0, 1).otherwise(0)).alias(
            "h_odd"
        ),
    )
    out = spearman_rho(d, "h_even", "h_odd")
    # driver-hashable contract: decimal accumulators stay internal,
    # the face reports correctly-rounded doubles (the q_spearman
    # nodec convention, paired with the oracle's VARCHAR route)
    from pyspark.sql.types import DecimalType

    return out.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in out.schema.fields
        ]
    )


def _rank_stability_oracle() -> str:
    head = """
WITH r0 AS (
  SELECT
    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS x,
    sum(CASE WHEN event_id % 2 != 0 THEN 1 ELSE 0 END) AS y
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
  GROUP BY user_id
),"""
    tail = """
vx AS (SELECT x, count(*) AS c FROM r0 GROUP BY 1),
px AS (
  SELECT x,
         2 * coalesce(sum(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS rx
  FROM vx),
vy AS (SELECT y, count(*) AS c FROM r0 GROUP BY 1),
py AS (
  SELECT y,
         2 * coalesce(sum(c) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS ry
  FROM vy),
j AS (SELECT px.rx, py.ry FROM r0 JOIN px USING (x) JOIN py USING (y)),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         sum(CAST(rx AS HUGEINT)) AS s_rx,
         sum(CAST(ry AS HUGEINT)) AS s_ry,
         sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS s_rxx,
         sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS s_ryy,
         sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS s_rxy
  FROM j),
r AS (
  SELECT *,
         CAST(n_rows AS HUGEINT) * s_rxy - s_rx * s_ry AS rho_num,
         CAST(n_rows AS HUGEINT) * s_rxx - s_rx * s_rx AS rho_d1,
         CAST(n_rows AS HUGEINT) * s_ryy - s_ry * s_ry AS rho_d2
  FROM m)
SELECT n_rows,
       CAST(CAST(s_rx AS VARCHAR) AS DOUBLE) AS s_rx,
       CAST(CAST(s_ry AS VARCHAR) AS DOUBLE) AS s_ry,
       CAST(CAST(s_rxx AS VARCHAR) AS DOUBLE) AS s_rxx,
       CAST(CAST(s_ryy AS VARCHAR) AS DOUBLE) AS s_ryy,
       CAST(CAST(s_rxy AS VARCHAR) AS DOUBLE) AS s_rxy,
       CAST(CAST(rho_num AS VARCHAR) AS DOUBLE) AS rho_num,
       CAST(CAST(rho_d1 AS VARCHAR) AS DOUBLE) AS rho_d1,
       CAST(CAST(rho_d2 AS VARCHAR) AS DOUBLE) AS rho_d2,
       (CAST(CAST(rho_num AS VARCHAR) AS DOUBLE)
          / CAST(CAST(rho_d1 AS VARCHAR) AS DOUBLE))
         * (CAST(CAST(rho_num AS VARCHAR) AS DOUBLE)
              / CAST(CAST(rho_d2 AS VARCHAR) AS DOUBLE)) AS rho2,
       CAST(sign(CAST(CAST(rho_num AS VARCHAR) AS DOUBLE)) AS INTEGER)
         AS rho_sign
FROM r
"""
    return head + tail


def q_foster_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foster-Stuart records trend (operators/stats.py:
    foster_stuart_cells) over the daily order-count series per order
    priority: upper/lower record counts, d = U - L (monotone trend),
    s = U + L (range widening).  The record-counting complement to
    q_mann_kendall / q_cox_stuart on the same calendar — all exact
    integers, one window pair per group, no division anywhere."""
    from npm_mirror_spark.operators.stats import foster_stuart_cells

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return foster_stuart_cells(daily, "o_orderpriority", "day", "n")


_FOSTER_STUART_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS day,
         count(*) AS n
  FROM orders GROUP BY 1, 2),
f AS (
  SELECT g,
    n > max(n) OVER (PARTITION BY g ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS up,
    n < min(n) OVER (PARTITION BY g ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS lo
  FROM daily)
SELECT g AS o_orderpriority,
  count(*) AS n_days,
  CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS upper_records,
  CAST(sum(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS lower_records,
  CAST(sum(CASE WHEN up THEN 1 ELSE 0 END)
       - sum(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS d_stat,
  CAST(sum(CASE WHEN up THEN 1 ELSE 0 END)
       + sum(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS s_stat
FROM f GROUP BY 1 ORDER BY 1
"""


def q_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-sign run census (operators/stats.py:
    longest_run_cells) over daily event counts per event type, signed
    against each type's exact lower median — the extreme-value twin of
    q_runs_test (run COUNT can look nominal while one pathological
    streak hides inside).  All exact integers: per-group median off
    the distinct-value prefix, gaps-and-islands via a row_number
    difference, one (group, sign, island) groupBy."""
    from npm_mirror_spark.operators.stats import longest_run_cells

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400)
        .cast("bigint")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return longest_run_cells(daily, "event_type", "d", "n")


_LONGEST_RUN_SQL = """
WITH daily AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
         count(*) AS x
  FROM events GROUP BY 1, 2),
vals AS (SELECT g, x, count(*) AS c FROM daily GROUP BY 1, 2),
pri AS (
  SELECT g, x, c,
    coalesce(sum(c) OVER (PARTITION BY g ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS p
  FROM vals),
tot AS (SELECT g, sum(c) AS n FROM vals GROUP BY 1),
med AS (
  SELECT pri.g, min(x) AS med
  FROM pri JOIN tot USING (g)
  WHERE p + c >= CAST(ceil(n / 2) AS BIGINT)
  GROUP BY pri.g),
signed AS (
  SELECT daily.g, d, CASE WHEN x > med THEN 1 ELSE -1 END AS s
  FROM daily JOIN med USING (g) WHERE x <> med),
isl AS (
  SELECT g, s,
    row_number() OVER (PARTITION BY g ORDER BY d)
      - row_number() OVER (PARTITION BY g, s ORDER BY d) AS i
  FROM signed),
runs AS (SELECT g, s, i, count(*) AS len FROM isl GROUP BY 1, 2, 3)
SELECT g AS event_type,
  CAST(sum(len) AS BIGINT) AS n_signed,
  count(*) AS n_runs,
  CAST(max(len) AS BIGINT) AS longest_run,
  CAST(coalesce(max(CASE WHEN s = 1 THEN len END), 0) AS BIGINT)
    AS longest_plus,
  CAST(coalesce(max(CASE WHEN s = -1 THEN len END), 0) AS BIGINT)
    AS longest_minus
FROM runs GROUP BY 1 ORDER BY 1
"""


def q_gk_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal tau cells (operators/stats.py:gk_tau_cells):
    how much of the Gini variation of order STATUS is explained by
    order PRIORITY — the variation-based PRE beside the error-based
    q_gk_lambda and the ordinal q_gk_gamma.  One row per priority
    with exact integer cells and pre_term = (N * q_x) / n_x, one IEEE
    division per bounded row; the scalar tau is the consumer
    one-liner (float sum in data-dependent category order)."""
    from npm_mirror_spark.operators.stats import gk_tau_cells

    o = _t(spark, sf_dir, "orders")
    return gk_tau_cells(o, "o_orderpriority", "o_orderstatus")


_GK_TAU_SQL = """
WITH cont AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS n
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2),
px AS (
  SELECT x, CAST(sum(n) AS BIGINT) AS n_x,
         CAST(sum(CAST(n * n AS DECIMAL(38,0))) AS DOUBLE) AS q_x
  FROM cont GROUP BY 1),
py AS (SELECT y, sum(n) AS ny FROM cont GROUP BY 1),
g AS (
  SELECT CAST(sum(ny) AS DOUBLE) AS n_total,
         CAST(sum(CAST(ny * ny AS DECIMAL(38,0))) AS DOUBLE)
           AS sum_col_sq
  FROM py)
SELECT x AS o_orderpriority, n_x, q_x, n_total, sum_col_sq,
  (n_total * q_x) / CAST(n_x AS DOUBLE) AS pre_term
FROM px CROSS JOIN g ORDER BY 1
"""


def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley Fmax variance-homogeneity census (operators/stats.py:
    variance_ratio_cells) of order totals across the 7 weekday groups
    — the raw-second-moment complement to the rank dispersions
    (q_conover_scale / q_rank_scale) and the median deviations
    (q_brown_forsythe) on the same calendar.  Exact cents cells in
    DECIMAL(38,0); one division per group for s^2 and one more for
    the flat-repeated fmax."""
    from npm_mirror_spark.operators.stats import variance_ratio_cells

    o = _t(spark, sf_dir, "orders")
    g = o.select(
        F.weekday(F.col("o_orderdate").cast("date")).alias("wd"),
        "o_totalprice",
    )
    return variance_ratio_cells(g, "wd", "o_totalprice")


_VARIANCE_RATIO_SQL = """
WITH s AS (
  SELECT isodow(CAST(o_orderdate AS DATE)) - 1 AS wd,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
m AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS sum_c,
         CAST(sum(CAST(v * v AS DECIMAL(38,0))) AS DOUBLE) AS sumsq_c
  FROM s GROUP BY 1),
c AS (
  SELECT wd, n_g, sum_c, sumsq_c,
    CASE WHEN n_g >= 2 THEN
      (CAST(n_g AS DOUBLE) * sumsq_c - sum_c * sum_c)
      / (CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) - 1.0))
    END AS s2
  FROM m),
f AS (SELECT max(s2) AS s2_max, min(s2) AS s2_min FROM c)
SELECT wd, n_g, sum_c, sumsq_c, s2, s2_max, s2_min,
  CASE WHEN s2_min > 0 THEN s2_max / s2_min END AS fmax
FROM c CROSS JOIN f ORDER BY wd
"""


def q_dunn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn post-hoc pairwise mean-rank comparison (operators/
    stats.py:dunn_pairs_cells) over document lengths by language —
    the follow-up q_kruskal's omnibus H points at but cannot answer
    (WHICH languages differ).  Reuses the pooled doubled midrank sums
    kruskal_cells emits, so no second rank pass; per ordered pair the
    mean-rank difference is one IEEE division on an exact-int-valued
    numerator.  The oracle COMPOSES the registered q_kruskal SQL."""
    from npm_mirror_spark.operators.stats import dunn_pairs_cells

    d = _t(spark, sf_dir, "documents")
    return dunn_pairs_cells(d, "n_chars", "lang")


def _dunn_pairs_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_kruskal oracle SQL into the pairwise
    replay."""
    return f"""
WITH k AS ({ORACLES["q_kruskal"]}),
a AS (SELECT lang AS lang_a, n_i AS n_a, rank_sum_x2 AS r2_a FROM k),
b AS (SELECT lang AS lang_b, n_i AS n_b, rank_sum_x2 AS r2_b FROM k)
SELECT lang_a, lang_b, n_a, n_b, r2_a, r2_b,
  r2_a * CAST(n_b AS DOUBLE) - r2_b * CAST(n_a AS DOUBLE)
    AS diff_num_x2,
  (r2_a * CAST(n_b AS DOUBLE) - r2_b * CAST(n_a AS DOUBLE))
    / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
    AS mean_rank_diff
FROM a JOIN b ON lang_a < lang_b
ORDER BY lang_a, lang_b
"""


def q_durbin_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incomplete-block rank deviation census (operators/stats.py:
    durbin_rank_cells — the Durbin/Skillings-Mack family): event
    types ranked WITHIN each epoch-day by daily count, each type's
    doubled rank sum against its own null mean Sigma(k_b+1) — the
    friedman complement for blocks where not every treatment shows
    up.  dev_x2 is an exact integer-valued double; NO division
    anywhere in the face."""
    from npm_mirror_spark.operators.stats import durbin_rank_cells

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400)
        .cast("bigint")
        .alias("d"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    return durbin_rank_cells(daily, "d", "event_type", "n")


_DURBIN_RANK_SQL = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS b,
         event_type AS t, count(*) AS x
  FROM events GROUP BY 1, 2),
vb AS (SELECT b, x, count(*) AS cx FROM daily GROUP BY 1, 2),
pri AS (
  SELECT b, x, cx,
    coalesce(sum(cx) OVER (PARTITION BY b ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS prior
  FROM vb),
sizes AS (SELECT b, count(*) AS kb FROM daily GROUP BY 1),
ranked AS (
  SELECT daily.t, 2 * prior + cx + 1 AS r2, kb + 1 AS kb1
  FROM daily
  JOIN pri ON daily.b = pri.b AND daily.x = pri.x
  JOIN sizes ON daily.b = sizes.b)
SELECT t AS event_type,
  CAST(count(*) AS BIGINT) AS blocks_present,
  CAST(sum(CAST(r2 AS DECIMAL(38,0))) AS DOUBLE) AS rank_sum_x2,
  CAST(sum(CAST(kb1 AS DECIMAL(38,0))) AS DOUBLE) AS null_mean_x2,
  CAST(sum(CAST(r2 AS DECIMAL(38,0))) AS DOUBLE)
    - CAST(sum(CAST(kb1 AS DECIMAL(38,0))) AS DOUBLE) AS dev_x2
FROM ranked GROUP BY 1 ORDER BY 1
"""


def q_rank_sum(spark, sf_dir):
    """Mann–Whitney rank-sum test (operators/stats.py:rank_sum_test):
    do English documents run longer than the rest of the corpus?
    Midrank-exact by integer doubling (2*R1, 2*U1), effect size as the
    exact AUC — one IEEE division, no sqrt/libm anywhere, so the whole
    test replays bit-for-bit.  Distinct-value collapse + the bounded
    two-level bucket prefix: no single-reducer rank window at 100 TB."""
    from npm_mirror_spark.operators.stats import rank_sum_test

    d = _t(spark, sf_dir, "documents")
    return nodec(rank_sum_test(d, "n_chars", F.col("lang") == "en"))


# q_rank_sum: midrank identity replayed over the distinct-value axis —
# per-value doubled A-contribution cnt_a*(2*below + t + 1) in HUGEINT,
# one final division for the AUC.
_RANK_SUM_SQL = """
WITH g AS (
  SELECT n_chars AS v,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_a,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cnt_b
  FROM documents GROUP BY 1),
p AS (
  SELECT v, cnt_a, cnt_b,
         coalesce(sum(cnt_a + cnt_b) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM g),
t AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS n1,
         CAST(sum(cnt_b) AS BIGINT) AS n2,
         sum(CAST(cnt_a AS HUGEINT)
             * CAST(2 * below + cnt_a + cnt_b + 1 AS HUGEINT)) AS r1_x2
  FROM p)
SELECT n1, n2,
       -- faces emit DOUBLE, never DECIMAL (r9 driver contract): the
       -- VARCHAR route is DuckDB's correctly-rounded parser, matching
       -- Spark's BigDecimal.doubleValue bit-for-bit at any magnitude
       CAST(CAST(r1_x2 AS VARCHAR) AS DOUBLE) AS r1_x2,
       CAST(CAST(r1_x2 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT)
                 AS VARCHAR) AS DOUBLE) AS u1_x2,
       CAST(CAST(r1_x2 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT)
                 AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(2 AS HUGEINT) * CAST(n1 AS HUGEINT)
                     * CAST(n2 AS HUGEINT) AS VARCHAR) AS DOUBLE) AS auc
FROM t
"""


def q_ks_stat(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov (operators/stats.py:ks_2samp):
    max ECDF gap between English and non-English doc lengths, located
    in EXACT integer arithmetic (cross-multiplied |cum1*n2 - cum2*n1|;
    the (gap, -value) struct max is a map-side-combinable argmax, no
    sort).  Only the final report divides.  The distribution-shift
    alarm the drift family (q_drift_report) thresholds on moments
    cannot see — KS catches shape changes at equal means."""
    from npm_mirror_spark.operators.stats import ks_2samp

    d = _t(spark, sf_dir, "documents")
    return nodec(ks_2samp(d, "n_chars", F.col("lang") == "en"))


# q_ks_stat: cross-multiplied integer ECDF gap, argmax = (max gap, min
# value) — the struct-max total order restated as two scalar subqueries.
_KS_STAT_SQL = """
WITH g AS (
  SELECT n_chars AS v,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_a,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cnt_b
  FROM documents GROUP BY 1),
p AS (
  SELECT v,
         sum(cnt_a) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         sum(cnt_b) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM g),
t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS n1,
             CAST(sum(cnt_b) AS BIGINT) AS n2 FROM g),
d AS (
  SELECT v,
         abs(CAST(cum_a AS HUGEINT) * t.n2
             - CAST(cum_b AS HUGEINT) * t.n1) AS gap
  FROM p CROSS JOIN t)
SELECT t.n1, t.n2,
       CAST(CAST((SELECT max(gap) FROM d) AS VARCHAR) AS DOUBLE) AS d_num,
       (SELECT min(v) FROM d WHERE gap = (SELECT max(gap) FROM d))
         AS at_value,
       CAST(CAST((SELECT max(gap) FROM d) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(t.n1 AS HUGEINT) * CAST(t.n2 AS HUGEINT)
                     AS VARCHAR) AS DOUBLE)
         AS d
FROM t
"""


def q_spearman(spark, sf_dir):
    """Spearman rank correlation (operators/stats.py:spearman_rho):
    does line-item quantity track extended price?  Midranks doubled to
    stay integer (the q_rank_sum identity), five Pearson moments over
    the doubled ranks as exact DECIMAL(38,0), the sqrt dodged by
    reporting rho2 = (num/d1)*(num/d2) plus the sign (the q_autocorr
    contract).  Each axis collapses to its distinct-value table + the
    bounded two-level bucket prefix — no raw-row rank window at
    100 TB."""
    from npm_mirror_spark.operators.stats import spearman_rho

    li = _t(spark, sf_dir, "lineitem")
    return nodec(spearman_rho(li, "l_quantity", "l_extendedprice"))


# q_spearman: midranks doubled to stay integer (2r = 2*below + ties + 1),
# five HUGEINT moments over the doubled ranks, rho2/sign at the end —
# the q_rank_sum prefix identity restated per axis.  The final
# num/d1/d2 exceed 2^53 at sf0.1, and DuckDB's direct HUGEINT->DOUBLE
# cast DOUBLE-ROUNDS (upper*2^64 + lower, two roundings — the r9 sweep
# caught rho2 off by ulps) while Spark's decimal->double is correctly
# rounded; routing the conversion through VARCHAR makes DuckDB use its
# correctly-rounded string parser, restoring bit parity.
_SPEARMAN_SQL = """
WITH r0 AS (
  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
vx AS (SELECT x, count(*) AS c FROM r0 GROUP BY 1),
px AS (
  SELECT x,
         2 * coalesce(sum(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS rx
  FROM vx),
vy AS (SELECT y, count(*) AS c FROM r0 GROUP BY 1),
py AS (
  SELECT y,
         2 * coalesce(sum(c) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS ry
  FROM vy),
j AS (SELECT px.rx, py.ry FROM r0 JOIN px USING (x) JOIN py USING (y)),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         sum(CAST(rx AS HUGEINT)) AS s_rx,
         sum(CAST(ry AS HUGEINT)) AS s_ry,
         sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS s_rxx,
         sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS s_ryy,
         sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS s_rxy
  FROM j),
r AS (
  SELECT *,
         CAST(n_rows AS HUGEINT) * s_rxy - s_rx * s_ry AS rho_num,
         CAST(n_rows AS HUGEINT) * s_rxx - s_rx * s_rx AS rho_d1,
         CAST(n_rows AS HUGEINT) * s_ryy - s_ry * s_ry AS rho_d2
  FROM m)
SELECT n_rows,
       CAST(CAST(s_rx AS VARCHAR) AS DOUBLE) AS s_rx,
       CAST(CAST(s_ry AS VARCHAR) AS DOUBLE) AS s_ry,
       CAST(CAST(s_rxx AS VARCHAR) AS DOUBLE) AS s_rxx,
       CAST(CAST(s_ryy AS VARCHAR) AS DOUBLE) AS s_ryy,
       CAST(CAST(s_rxy AS VARCHAR) AS DOUBLE) AS s_rxy,
       CAST(CAST(rho_num AS VARCHAR) AS DOUBLE) AS rho_num,
       CAST(CAST(rho_d1 AS VARCHAR) AS DOUBLE) AS rho_d1,
       CAST(CAST(rho_d2 AS VARCHAR) AS DOUBLE) AS rho_d2,
       (CAST(CAST(rho_num AS VARCHAR) AS DOUBLE)
          / CAST(CAST(rho_d1 AS VARCHAR) AS DOUBLE))
         * (CAST(CAST(rho_num AS VARCHAR) AS DOUBLE)
              / CAST(CAST(rho_d2 AS VARCHAR) AS DOUBLE)) AS rho2,
       CAST(sign(CAST(CAST(rho_num AS VARCHAR) AS DOUBLE)) AS INTEGER)
         AS rho_sign
FROM r
"""


def q_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test (operators/stats.py:runs_test_daily)
    over the daily order-count series: sign each day against the exact
    lower median (distinct-value prefix, no sort), drop exact-median
    days, count sign runs via lag over the bounded calendar-day axis.
    All exact counts — the randomness check beside q_cusum's
    change-point and q_autocorr's persistence."""
    from npm_mirror_spark.operators.stats import runs_test_daily

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return runs_test_daily(daily, "day", "n")


# q_runs_test: lower median = smallest value whose prefix count reaches
# ceil(n/2); exact-median days drop; run starts are lag transitions.
_RUNS_TEST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1),
g AS (
  SELECT date_diff('day', DATE '1970-01-01', day) AS d, n FROM daily),
v AS (SELECT n AS x, count(*) AS c FROM g GROUP BY 1),
p AS (
  SELECT x, c,
         coalesce(sum(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM v),
t AS (SELECT count(*) AS nn FROM g),
med AS (
  SELECT min(x) AS m FROM p CROSS JOIN t
  WHERE below + c >= CAST(ceil(nn / 2.0) AS BIGINT)),
s AS (
  SELECT d, CASE WHEN n > m THEN 1 ELSE -1 END AS sg, m
  FROM g CROSS JOIN med WHERE n <> m),
r AS (
  SELECT sg, m,
         CASE WHEN lag(sg) OVER (ORDER BY d) IS NULL
                OR lag(sg) OVER (ORDER BY d) <> sg
              THEN 1 ELSE 0 END AS st
  FROM s)
SELECT CAST(sum(CASE WHEN sg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
       CAST(sum(CASE WHEN sg < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
       CAST(sum(st) AS BIGINT) AS n_runs,
       max(m) AS median_x
FROM r
"""


def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotone-trend statistic (operators/stats.py:
    mann_kendall_daily) over daily order counts: S = sum of
    sign(x_j - x_i) over day pairs — quadratic ONLY on the bounded
    calendar-day axis (raw rows collapse to one row per day first), so
    the broadcast non-equi pair join is a bounded wedge.  Exact
    integers; the one IEEE division is the dominance effect size."""
    from npm_mirror_spark.operators.stats import mann_kendall_daily

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return mann_kendall_daily(daily, "day", "n")


# q_mann_kendall: S over day pairs on the bounded day axis; ties
# contribute zero; one division for the dominance effect size.
_MANN_KENDALL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1),
g AS (
  SELECT date_diff('day', DATE '1970-01-01', day) AS d, n FROM daily),
pairs AS (
  SELECT a.n AS xa, b.n AS xb FROM g a JOIN g b ON b.d > a.d),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN xb > xa THEN 1 ELSE 0 END) AS BIGINT)
           AS n_concordant,
         CAST(sum(CASE WHEN xb < xa THEN 1 ELSE 0 END) AS BIGINT)
           AS n_discordant,
         CAST(sum(CASE WHEN xb = xa THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ties
  FROM pairs),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM g)
SELECT n_days, n_pairs,
       n_concordant - n_discordant AS s_stat,
       n_concordant, n_discordant, n_ties,
       CAST(n_concordant - n_discordant AS DOUBLE)
         / CAST(n_pairs AS DOUBLE) AS s_over_pairs
FROM agg CROSS JOIN t
"""


def q_theilsen(spark, sf_dir):
    """Theil–Sen robust slope of daily order counts (operators/stats.py:
    theil_sen_daily): the exact lower median of all pairwise day-slopes —
    HOW STEEP is the trend q_mann_kendall detects, with a 29% breakdown
    point where q_trend_by_group's least-squares fit has zero.  Each
    slope is one IEEE division of exact ints (identical doubles in both
    engines); the median is rank selection over the distinct-slope axis
    via the bounded two-level prefix — pairs are quadratic ONLY over the
    bounded calendar-day axis (the mann_kendall wedge contract)."""
    from npm_mirror_spark.operators.stats import theil_sen_daily

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return theil_sen_daily(daily, "day", "n")


# q_theilsen: pairwise day-slopes as single IEEE divisions of exact
# ints, lower median by distinct-slope prefix rank selection.
_THEILSEN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1),
g AS (
  SELECT date_diff('day', DATE '1970-01-01', day) AS d, n FROM daily),
pairs AS (
  SELECT CAST(b.n - a.n AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM g a JOIN g b ON b.d > a.d),
v AS (SELECT slope, count(*) AS c FROM pairs GROUP BY 1),
p AS (
  SELECT slope, c,
         coalesce(sum(c) OVER (ORDER BY slope
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM v),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM g)
SELECT nd.n_days, t.n_pairs,
       (SELECT min(slope) FROM p CROSS JOIN t
        WHERE below + c >= CAST(ceil(n_pairs / 2.0) AS BIGINT))
         AS median_slope
FROM nd CROSS JOIN t
"""


def q_mad_outliers(spark, sf_dir):
    """Per-language robust outlier audit over document lengths
    (operators/stats.py:mad_outliers_by): exact lower median, exact MAD
    (median absolute deviation), and the |x - med| > 3*MAD outlier
    count — all integer arithmetic until the reported fraction; the
    robust gate a mean/stddev z-score can't provide under heavy tails
    (the outliers drag the stddev that should flag them).  Grouped
    distinct-value prefix windows only — per-partition rows bounded by
    the value domain, never the corpus."""
    from npm_mirror_spark.operators.stats import mad_outliers_by

    d = _t(spark, sf_dir, "documents")
    return mad_outliers_by(d, "lang", "n_chars", k=3)


# q_mad_outliers: grouped lower medians off the per-group distinct-value
# prefix (value axis, then deviation axis), exact integer outlier gate.
_MAD_OUTLIERS_SQL = """
WITH g AS (SELECT lang AS l, n_chars AS x FROM documents),
t AS (SELECT l, count(*) AS nn FROM g GROUP BY 1),
v AS (SELECT l, x, count(*) AS c FROM g GROUP BY 1, 2),
p AS (
  SELECT l, x, c,
         coalesce(sum(c) OVER (PARTITION BY l ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM v),
med AS (
  SELECT p.l, min(x) AS med FROM p JOIN t USING (l)
  WHERE below + c >= CAST(ceil(nn / 2.0) AS BIGINT) GROUP BY p.l),
dv AS (SELECT g.l, abs(g.x - med.med) AS d FROM g JOIN med USING (l)),
v2 AS (SELECT l, d, count(*) AS c FROM dv GROUP BY 1, 2),
p2 AS (
  SELECT l, d, c,
         coalesce(sum(c) OVER (PARTITION BY l ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM v2),
mad AS (
  SELECT p2.l, min(d) AS mad FROM p2 JOIN t USING (l)
  WHERE below + c >= CAST(ceil(nn / 2.0) AS BIGINT) GROUP BY p2.l)
SELECT g.l AS lang,
       CAST(count(*) AS BIGINT) AS n,
       max(med.med) AS median,
       max(mad.mad) AS mad,
       CAST(sum(CASE WHEN abs(g.x - med.med) > 3 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN abs(g.x - med.med) > 3 * mad.mad
                     THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS outlier_frac
FROM g JOIN med USING (l) JOIN mad USING (l)
GROUP BY 1
"""


def q_welch_t(spark, sf_dir):
    """Welch's unequal-variance t-test (operators/stats.py:welch_t)
    between English and non-English document lengths — the PARAMETRIC
    twin of q_rank_sum on the same split: rank_sum asks "is one
    distribution stochastically larger", this asks "do the MEANS differ,
    variances unpooled", reported sqrt-free (t^2 + Welch-Satterthwaite
    df).  One scan, one 6-column map-side fold, 1-row output; every
    float is a fixed IEEE sequence on exact DECIMAL(38,0) ingredients
    (the q_kappa contract), so the oracle matches bit-for-bit."""
    from npm_mirror_spark.operators.stats import welch_t

    d = _t(spark, sf_dir, "documents")
    return nodec(welch_t(d, "n_chars", F.col("lang") == "en"))


# q_welch_t: exact HUGEINT ingredients, VARCHAR-routed to double, then
# the IDENTICAL IEEE expression tree as operators/stats.py:welch_t.
# Group B via IS DISTINCT FROM: a NULL-lang row lands in group B, the
# operator's coalesce(in_a, FALSE) convention (NULL-counts-as-negative).
_WELCH_T_SQL = """
WITH agg AS (
  SELECT
    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n1,
    CAST(count(*) FILTER (WHERE lang IS DISTINCT FROM 'en') AS BIGINT) AS n2,
    sum(CASE WHEN lang = 'en' THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS s1,
    sum(CASE WHEN lang IS DISTINCT FROM 'en'
         THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS s2,
    sum(CASE WHEN lang = 'en'
         THEN CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)
         ELSE 0 END) AS q1,
    sum(CASE WHEN lang IS DISTINCT FROM 'en'
         THEN CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)
         ELSE 0 END) AS q2
  FROM documents WHERE n_chars IS NOT NULL),
m AS (
  SELECT n1, n2,
    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
    CAST(CAST(n1 * q1 - s1 * s1 AS VARCHAR) AS DOUBLE)
      / CAST(CAST(CAST(n1 AS HUGEINT) * CAST(n1 - 1 AS HUGEINT)
                  AS VARCHAR) AS DOUBLE) AS v1,
    CAST(CAST(n2 * q2 - s2 * s2 AS VARCHAR) AS DOUBLE)
      / CAST(CAST(CAST(n2 AS HUGEINT) * CAST(n2 - 1 AS HUGEINT)
                  AS VARCHAR) AS DOUBLE) AS v2
  FROM agg),
s AS (
  SELECT *, v1 / CAST(n1 AS DOUBLE) AS se1, v2 / CAST(n2 AS DOUBLE) AS se2
  FROM m)
SELECT n1, n2, m1 AS mean_a, m2 AS mean_b, v1 AS var_a, v2 AS var_b,
       ((m1 - m2) * (m1 - m2)) / (se1 + se2) AS t2,
       ((se1 + se2) * (se1 + se2))
         / ((se1 * se1) / CAST(n1 - 1 AS DOUBLE)
            + (se2 * se2) / CAST(n2 - 1 AS DOUBLE)) AS welch_df
FROM s
"""


def q_kruskal(spark, sf_dir):
    """Kruskal-Wallis rank decomposition per language
    (operators/stats.py:kruskal_cells) over document lengths — the
    k-sample generalization of q_rank_sum: does at least one language's
    length distribution sit apart?  Emits PER-GROUP H contributions
    (rank_sum_x2, mean_rank, h_term) instead of their float sum — the
    one op two engines could round differently — so the face is exact
    while H and the tie correction stay one-liner derivations.  Bounded
    two-level prefix over the distinct-length axis; no raw-row
    window."""
    from npm_mirror_spark.operators.stats import kruskal_cells

    d = _t(spark, sf_dir, "documents")
    return nodec(kruskal_cells(d, "n_chars", "lang"))


# q_kruskal: doubled-midrank identity replayed on the distinct-length
# axis; per-group exact HUGEINT rank sums, VARCHAR-routed doubles.
_KRUSKAL_SQL = """
WITH g AS (
  SELECT lang AS grp, n_chars AS x FROM documents WHERE n_chars IS NOT NULL),
vg AS (SELECT grp, x, count(*) AS cg FROM g GROUP BY 1, 2),
vals AS (SELECT x, CAST(sum(cg) AS BIGINT) AS c FROM vg GROUP BY 1),
pri AS (
  SELECT x, c,
         coalesce(sum(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
  FROM vals),
per AS (
  SELECT vg.grp, CAST(sum(vg.cg) AS BIGINT) AS n_i,
         sum(CAST(vg.cg AS HUGEINT) * CAST(2 * p.b + p.c + 1 AS HUGEINT))
           AS r2
  FROM vg JOIN pri p ON p.x = vg.x
  GROUP BY vg.grp),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_total,
         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
             - CAST(c AS HUGEINT)) AS tc
  FROM vals)
SELECT grp AS lang, n_i,
       CAST(CAST(r2 AS VARCHAR) AS DOUBLE) AS rank_sum_x2,
       CAST(CAST(r2 AS VARCHAR) AS DOUBLE) / CAST(2 * n_i AS DOUBLE)
         AS mean_rank,
       (CAST(CAST(r2 AS VARCHAR) AS DOUBLE)
        * CAST(CAST(r2 AS VARCHAR) AS DOUBLE))
         / CAST(4 * n_i AS DOUBLE) AS h_term,
       n_total,
       CAST(CAST(tc AS VARCHAR) AS DOUBLE) AS tie_cubes
FROM per CROSS JOIN tot
ORDER BY lang
"""


def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b between daily order VOLUME and daily distinct-
    customer BREADTH (operators/stats.py:kendall_tau_daily): do
    high-volume days draw proportionally more customers, judged only by
    pair order?  The monotone-association companion to q_spearman
    (rank-linear) and q_mann_kendall (trend-vs-time): exact
    concordant/discordant/tie counting over the bounded calendar-day
    wedge (raw orders collapse to one row per day FIRST, the day side
    broadcasts), sqrt-free tau-b report."""
    from npm_mirror_spark.operators.stats import kendall_tau_daily

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )
    return kendall_tau_daily(daily, "day", "n_orders", "n_customers")


# q_kendall_tau: bounded day-axis pair wedge, exact tie-aware counts,
# sqrt-free signed tau-b square.  The outer NULL filter replays the
# operator's up-front exclusion of NULL day/measure rows (no-op on
# clean data: x/y are COUNTs here).
_KENDALL_TAU_SQL = """
WITH g AS (
  SELECT * FROM (
    SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
           CAST(count(*) AS BIGINT) AS x,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS y
    FROM orders GROUP BY 1)
  WHERE d IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL),
p AS (
  SELECT b.x - a.x AS dx, b.y - a.y AS dy
  FROM g a JOIN g b ON b.d > a.d),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
         CAST(sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
         CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
         CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
  FROM p),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM g)
SELECT n_days, n_pairs, n_concordant, n_discordant, ties_x, ties_y,
       n_concordant - n_discordant AS tau_num,
       sign(CAST(n_concordant - n_discordant AS DOUBLE))
         * (CAST(n_concordant - n_discordant AS DOUBLE)
            * CAST(n_concordant - n_discordant AS DOUBLE))
         / (CAST(n_pairs - ties_x AS DOUBLE)
            * CAST(n_pairs - ties_y AS DOUBLE))
         AS tau_b_sq_signed
FROM agg CROSS JOIN nd
"""


def q_anova_cells(spark, sf_dir):
    """One-way ANOVA decomposition of line-item quantity by return flag
    (operators/stats.py:anova_cells) — the parametric k-sample
    companion to q_kruskal: per-flag n_i, exact sums, within-group SS
    and the between-group term, each a fixed IEEE sequence on exact
    DECIMAL(38,0) ingredients (quantities are integral, cast to long),
    so F = (Sum between/(k-1))/(Sum within/(N-k)) is a one-liner
    derivation and the face never sums floats across data-dependent
    group order.  One grouped fold + a broadcast 1-row totals frame."""
    from npm_mirror_spark.operators.stats import anova_cells

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return nodec(anova_cells(li, "qty", "l_returnflag"))


# q_anova_cells: exact HUGEINT (n, S, Q) per flag, VARCHAR-routed,
# identical IEEE tree as operators/stats.py:anova_cells.
_ANOVA_CELLS_SQL = """
WITH g AS (
  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
  FROM lineitem WHERE l_quantity IS NOT NULL),
per AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
  FROM g GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total, sum(CAST(x AS HUGEINT)) AS st
  FROM g),
m AS (
  SELECT per.grp, per.n_i, per.s, per.q, tot.n_total,
         CAST(CAST(per.s AS VARCHAR) AS DOUBLE) / CAST(per.n_i AS DOUBLE)
           AS mean_i,
         CAST(CAST(tot.st AS VARCHAR) AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
           AS grand_mean
  FROM per CROSS JOIN tot)
SELECT grp AS l_returnflag, n_i,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_i,
       mean_i,
       CAST(CAST(n_i * q - s * s AS VARCHAR) AS DOUBLE)
         / CAST(n_i AS DOUBLE) AS within_ss,
       CAST(n_i AS DOUBLE) * ((mean_i - grand_mean) * (mean_i - grand_mean))
         AS between_term,
       n_total, grand_mean
FROM m
ORDER BY l_returnflag
"""


def q_poisson_bootstrap(spark, sf_dir):
    """Deterministic Poisson bootstrap of mean document length
    (operators/stats.py:poisson_bootstrap_mean, B=32): the bootstrap
    that scales — per-row Poisson(1) weights from the md5 key contract
    decide every resample in ONE pass (no row fan-out: a single
    64-column map-side fold + a 1-row stack), and the hard-coded
    inverse-CDF literals make both engines draw IDENTICAL resamples.
    Output is the bootstrap distribution (n_eff, exact weighted sum,
    mean per resample); any CI quantile is a one-liner on 32 rows."""
    from npm_mirror_spark.operators.stats import poisson_bootstrap_mean

    d = _t(spark, sf_dir, "documents")
    return nodec(poisson_bootstrap_mean(d, "doc_id", "n_chars", 32))


# q_poisson_bootstrap: the md5 key contract replayed per (row, resample),
# the SAME hard-coded Poisson(1) CDF literals, exact HUGEINT sums.
_POISSON_BOOTSTRAP_SQL = """
WITH b AS (SELECT unnest(generate_series(0, 31)) AS r),
u AS (
  SELECT b.r, d.n_chars,
         CAST(('0x' || substr(md5(CAST(b.r // 5 AS VARCHAR) || ':'
                || CAST(d.doc_id AS VARCHAR)), (b.r % 5) * 6 + 1, 6))::BIGINT
              AS DOUBLE)
           / CAST(16777216 AS DOUBLE) AS u
  FROM documents d CROSS JOIN b),
w AS (
  SELECT r, n_chars,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238462 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              WHEN u < 0.9994058151824183 THEN 5
              WHEN u < 0.9999167588507119 THEN 6
              ELSE 7 END AS w
  FROM u)
SELECT CAST(r AS INTEGER) AS resample,
       CAST(sum(w) AS BIGINT) AS n_eff,
       CAST(CAST(sum(CAST(w AS HUGEINT) * CAST(n_chars AS HUGEINT))
                 AS VARCHAR) AS DOUBLE) AS sum_wx,
       CAST(CAST(sum(CAST(w AS HUGEINT) * CAST(n_chars AS HUGEINT))
                 AS VARCHAR) AS DOUBLE)
         / CAST(sum(w) AS DOUBLE) AS mean
FROM w GROUP BY r ORDER BY resample
"""
