"""Faces built on ``operators/temporal.py``: survival, change-point and
serial-trend statistics over the event and order series, each next to
its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.faces import nodec
from npm_mirror_spark.tables import load_table as _t


def q_km_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier event table: time from order date to line shipment
    by return flag, a line 'censored' when its status is still open
    (l_linestatus = 'O').  (operators/temporal.py km_cells.)"""
    from npm_mirror_spark.operators.temporal import km_cells

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") == "F").cast("int").alias("ev"),
    )
    return km_cells(j, "flag", "dur", "ev")


_KM_EVENTS_SQL = """
WITH j AS (
  SELECT l.l_returnflag AS flag,
    date_diff('day', o.o_orderdate, l.l_shipdate) AS dur,
    CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  -- NULL alignment with the Spark face (review finding): a NULL
  -- linestatus/date makes the face's ev/dur NULL and km_cells drops
  -- the row, so the oracle must drop it too
  WHERE l.l_linestatus IS NOT NULL
    AND l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
per_t AS (
  SELECT flag, dur AS t, count(*) AS nn,
    sum(ev) AS d, sum(1 - ev) AS c
  FROM j GROUP BY flag, dur
),
cum AS (
  SELECT flag, t, nn, d, c,
    coalesce(sum(nn) OVER (PARTITION BY flag ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
    sum(nn) OVER (PARTITION BY flag) AS total
  FROM per_t
)
SELECT flag, CAST(t AS INTEGER) AS t,
  CAST(total - prior AS BIGINT) AS n_risk,
  CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c
FROM cum ORDER BY flag, t
"""


def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Haenszel survival) cells: did RETURNED lines
    (arm A = l_returnflag 'R') ship on a different time curve than the
    rest, stratified by order priority?  Duration and censoring exactly
    as q_km_events (time from order date to shipment; open-status lines
    censored).  (operators/temporal.py logrank_cells; the chi-square
    (sum o_minus_e_a)^2 / (sum var_term) is a consumer one-liner — the
    two sums are the only ops the face refuses, per the cells
    contract.)"""
    from npm_mirror_spark.operators.temporal import logrank_cells

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") == "F").cast("int").alias("ev"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return logrank_cells(j, "prio", "dur", "ev", in_a=F.col("ret"))


_LOGRANK_SQL = """
WITH src AS (
  SELECT o.o_orderpriority AS g,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS t,
         CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS e,
         coalesce(l.l_returnflag = 'R', FALSE) AS a
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  -- NULL alignment with the Spark face (the q_km_events oracle's
  -- convention, review finding): a NULL linestatus/date makes the
  -- face's ev/dur NULL and logrank_cells drops the row, so the
  -- oracle drops it too instead of CASE-mapping NULL to censored
  WHERE o.o_orderpriority IS NOT NULL AND l.l_linestatus IS NOT NULL
    AND l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
per_t AS (
  SELECT g, t, count(*) AS n, sum(e) AS d,
         sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN a THEN e ELSE 0 END) AS da
  FROM src GROUP BY g, t
),
risk AS (
  SELECT g, t, d, da,
    sum(n) OVER (PARTITION BY g)
      - coalesce(sum(n) OVER (PARTITION BY g ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr,
    sum(na) OVER (PARTITION BY g)
      - coalesce(sum(na) OVER (PARTITION BY g ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nra
  FROM per_t
)
SELECT g AS prio, CAST(t AS INTEGER) AS t,
  CAST(nr AS BIGINT) AS n, CAST(d AS BIGINT) AS d,
  CAST(nra AS BIGINT) AS n_a, CAST(da AS BIGINT) AS d_a,
  CAST(da AS DOUBLE)
    - CAST(nra AS DOUBLE) * CAST(d AS DOUBLE) / CAST(nr AS DOUBLE)
    AS o_minus_e_a,
  CASE WHEN nr > 1 THEN
    CAST(d AS DOUBLE)
      * (CAST(nra AS DOUBLE) / CAST(nr AS DOUBLE))
      * (1.0 - CAST(nra AS DOUBLE) / CAST(nr AS DOUBLE))
      * (CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
      / (CAST(nr AS DOUBLE) - 1.0)
  ELSE 0.0 END AS var_term
FROM risk WHERE d > 0 ORDER BY prio, t
"""


def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint cells over the daily event-count
    series: for every prospective split day, the exact Mann-Whitney
    shift statistic U_t — argmax |U_t| is the distribution-free change
    point q_changepoint's SSE split can't robustly give on heavy-tailed
    days.  (operators/temporal.py pettitt_cells.)"""
    from npm_mirror_spark.operators.temporal import pettitt_cells

    ev = _t(spark, sf_dir, "events")
    daily = ev.where(F.col("ts").isNotNull()).groupBy(
        # epoch-day bigint, the q_new_users_daily convention: a
        # date_trunc timestamp renders differently across the two
        # engines' canonicalizers
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    return pettitt_cells(daily, "d", "n")


_PETTITT_SQL = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, count(*) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
vc AS (SELECT x, count(*) AS cd FROM daily GROUP BY x),
pri AS (
  SELECT x, cd,
    coalesce(sum(cd) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
    sum(cd) OVER () AS n
  FROM vc
),
v AS (SELECT x, 2 * below + cd - n AS v, n FROM pri),
j AS (SELECT daily.d, v.v, v.n FROM daily JOIN v USING (x))
SELECT d, CAST(n AS BIGINT) AS n_days,
  CAST(sum(v) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u_t
FROM j ORDER BY d
"""


def q_aalen_johansen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen–Johansen competing-risks event table over shipping
    durations: a line exits by being RETURNED (cause R) or KEPT
    (causes A/N) when it finishes; open-status lines are censored —
    per (priority stratum, event time, cause) the shared risk set and
    cause-specific event counts the cumulative-incidence estimator
    needs (per-cause KM curves would overestimate every cause).
    (operators/temporal.py aalen_johansen_cells — the survival tier's
    third member after q_km_events and q_logrank.)"""
    from npm_mirror_spark.operators.temporal import aalen_johansen_cells

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") == "F").cast("int").alias("ev"),
        F.col("l_returnflag").alias("flag"),
    )
    return aalen_johansen_cells(j, "prio", "dur", "ev", "flag")


_AJ_SQL = """
WITH src AS (
  SELECT o.o_orderpriority AS g,
    date_diff('day', o.o_orderdate, l.l_shipdate) AS t,
    CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS e,
    l.l_returnflag AS k
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  -- NULL alignment with the Spark face (the q_km_events/q_logrank
  -- oracle convention): NULL stratum/dates/linestatus rows drop, and
  -- an EVENT row with NULL cause drops (the operator's filter)
  WHERE o.o_orderpriority IS NOT NULL AND l.l_linestatus IS NOT NULL
    AND l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
    AND (l.l_linestatus <> 'F' OR l.l_returnflag IS NOT NULL)
),
per_t AS (
  SELECT g, t, count(*) AS n, sum(e) AS d, sum(1 - e) AS c
  FROM src GROUP BY g, t
),
risk AS (
  SELECT g, t, d, c,
    sum(n) OVER (PARTITION BY g)
      - coalesce(sum(n) OVER (PARTITION BY g ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr
  FROM per_t
),
pc AS (
  SELECT g, t, k, count(*) AS dk FROM src WHERE e = 1 GROUP BY g, t, k
)
SELECT pc.g AS prio, CAST(pc.t AS INTEGER) AS t, pc.k AS flag,
  CAST(pc.dk AS BIGINT) AS d_cause, CAST(risk.d AS BIGINT) AS d,
  CAST(risk.c AS BIGINT) AS c, CAST(risk.nr AS BIGINT) AS n_risk
FROM pc JOIN risk ON pc.g = risk.g AND pc.t = risk.t
ORDER BY prio, t, flag
"""


def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox–Stuart trend cells over the daily event-count series: pair
    each of the first h days with its half-spaced partner and count
    sign directions — the cheap is-the-volume-drifting gate next to
    the registered q_mann_kendall (which weighs all O(n^2) day
    pairs).  (operators/temporal.py cox_stuart_cells.)"""
    from npm_mirror_spark.operators.temporal import cox_stuart_cells

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return cox_stuart_cells(daily, "day", "n")


_COX_STUART_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events
  WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
idx AS (
  SELECT n AS x, row_number() OVER (ORDER BY day) AS i,
    count(*) OVER () AS nn
  FROM daily
),
pairs AS (
  SELECT a.x AS xa, b.x AS xb, a.nn
  FROM (SELECT * FROM idx WHERE i <= nn // 2) a
  JOIN idx b ON b.i = a.i + (a.nn - a.nn // 2)
)
SELECT max(nn) AS n_days,
  count(*) AS n_pairs,
  CAST(coalesce(sum(CASE WHEN xb > xa THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_pos,
  CAST(coalesce(sum(CASE WHEN xb < xa THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_neg,
  CAST(coalesce(sum(CASE WHEN xb = xa THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_tie,
  CASE WHEN count(*) > 0
       THEN CAST(sum(CASE WHEN xb > xa THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) END AS pos_share
FROM pairs
"""


def q_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hirsch–Slack seasonal Mann–Kendall over daily ORDER counts,
    seasons = day-of-week: weekday cycles read as trend by a raw MK;
    comparing Mondays only with Mondays removes them.  Day-of-week
    convention pinned to Spark's dayofweek (Sunday = 1); the oracle
    replays it as EXTRACT(dow) + 1.  (operators/temporal.py
    seasonal_mk_cells.)"""
    from npm_mirror_spark.operators.temporal import seasonal_mk_cells

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return seasonal_mk_cells(daily, "day", "n")


_SEASONAL_MK_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
g AS (
  SELECT CAST(EXTRACT(dow FROM day) + 1 AS INTEGER) AS season, day, n
  FROM daily
),
pairs AS (
  SELECT a.season,
    CASE WHEN b.n > a.n THEN 1 ELSE 0 END AS conc,
    CASE WHEN b.n < a.n THEN 1 ELSE 0 END AS disc,
    CASE WHEN b.n = a.n THEN 1 ELSE 0 END AS tie
  FROM g a JOIN g b ON a.season = b.season AND b.day > a.day
),
per_season AS (
  SELECT season, count(*) AS n_pairs, sum(conc) AS conc,
    sum(disc) AS disc, sum(tie) AS ties
  FROM pairs GROUP BY season
),
days AS (SELECT season, count(*) AS n_days FROM g GROUP BY season)
SELECT d.season, d.n_days,
  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
  CAST(coalesce(p.conc, 0) - coalesce(p.disc, 0) AS BIGINT) AS s_stat,
  CAST(coalesce(p.conc, 0) AS BIGINT) AS n_concordant,
  CAST(coalesce(p.disc, 0) AS BIGINT) AS n_discordant,
  CAST(coalesce(p.ties, 0) AS BIGINT) AS n_ties
FROM days d LEFT JOIN per_season p USING (season)
ORDER BY d.season
"""


def q_buishand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buishand adjusted-partial-sum cells over the daily order-count
    series (n-scaled so every number is an exact integer) — the
    mean-shift homogeneity companion to the registered q_pettitt
    (rank-based) and q_changepoint (SSE-based) on the same kind of
    axis.  (operators/temporal.py buishand_cells.)"""
    from npm_mirror_spark.operators.temporal import buishand_cells

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return buishand_cells(daily, "day", "n")


_BUISHAND_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
pre AS (
  SELECT day, n AS x,
    row_number() OVER (ORDER BY day) AS k,
    sum(n) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_k,
    count(*) OVER () AS n_days,
    sum(n) OVER () AS total
  FROM daily
)
SELECT day, CAST(k AS BIGINT) AS k, CAST(x AS BIGINT) AS x,
  CAST(p_k AS BIGINT) AS p_k,
  CAST(n_days AS BIGINT) AS n_days,
  CAST(total AS BIGINT) AS total,
  CAST(CAST(n_days AS HUGEINT) * p_k
       - CAST(k AS HUGEINT) * total AS DOUBLE) AS n_sk_scaled
FROM pre ORDER BY day
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard event table on the q_km_events
    fixture (time from order date to line shipment by return flag,
    open-status lines censored) — the hazard-scale reading of the same
    curves, with the per-time increment and its variance term as the
    two fixed IEEE divisions.  (operators/temporal.py
    nelson_aalen_cells.)"""
    from npm_mirror_spark.operators.temporal import nelson_aalen_cells

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") == "F").cast("int").alias("ev"),
    )
    return nelson_aalen_cells(j, "flag", "dur", "ev")


_NELSON_AALEN_SQL = """
WITH j AS (
  SELECT l.l_returnflag AS flag,
    date_diff('day', o.o_orderdate, l.l_shipdate) AS dur,
    CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_linestatus IS NOT NULL AND l.l_returnflag IS NOT NULL
    AND l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
per_t AS (
  SELECT flag, dur AS t, count(*) AS nn,
    sum(ev) AS d, sum(1 - ev) AS c
  FROM j GROUP BY flag, dur
),
cum AS (
  SELECT flag, t, nn, d, c,
    coalesce(sum(nn) OVER (PARTITION BY flag ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
    sum(nn) OVER (PARTITION BY flag) AS total
  FROM per_t
)
SELECT flag, CAST(t AS INTEGER) AS t,
  CAST(total - prior AS BIGINT) AS n_risk,
  CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
  CAST(d AS DOUBLE) / CAST(total - prior AS DOUBLE) AS na_term,
  CAST(d AS DOUBLE) * (CAST(total - prior AS DOUBLE) - CAST(d AS DOUBLE))
    / (CAST(total - prior AS DOUBLE) * CAST(total - prior AS DOUBLE)
       * CAST(total - prior AS DOUBLE)) AS var_term
FROM cum WHERE d > 0 ORDER BY flag, t
"""


def q_gehan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan–Breslow–Wilcoxon cells on the q_logrank fixture (returned
    lines vs the rest, stratified by order priority): the n-weighted
    log-rank whose weighting makes the per-time observed-minus-expected
    an EXACT integer — early shipping differences dominate, the
    deliberate contrast with the equally-weighted q_logrank on the
    same strata.  (operators/temporal.py gehan_cells.)"""
    from npm_mirror_spark.operators.temporal import gehan_cells

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("dur"),
        (F.col("l_linestatus") == "F").cast("int").alias("ev"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return gehan_cells(j, "prio", "dur", "ev", in_a=F.col("ret"))


_GEHAN_SQL = """
WITH src AS (
  SELECT o.o_orderpriority AS g,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS t,
         CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS e,
         coalesce(l.l_returnflag = 'R', FALSE) AS a
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority IS NOT NULL AND l.l_linestatus IS NOT NULL
    AND l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
per_t AS (
  SELECT g, t, count(*) AS n, sum(e) AS d,
         sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN a THEN e ELSE 0 END) AS da
  FROM src GROUP BY g, t
),
risk AS (
  SELECT g, t, d, da,
    sum(n) OVER (PARTITION BY g)
      - coalesce(sum(n) OVER (PARTITION BY g ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr,
    sum(na) OVER (PARTITION BY g)
      - coalesce(sum(na) OVER (PARTITION BY g ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nra
  FROM per_t
)
SELECT g AS prio, CAST(t AS INTEGER) AS t,
  CAST(nr AS BIGINT) AS n, CAST(d AS BIGINT) AS d,
  CAST(nra AS BIGINT) AS n_a, CAST(da AS BIGINT) AS d_a,
  CAST(CAST(nr AS HUGEINT) * da - CAST(nra AS HUGEINT) * d AS DOUBLE)
    AS w_o_minus_e_a,
  CASE WHEN nr > 1 THEN
    CAST(CAST(d AS HUGEINT) * nra * (nr - nra) * (nr - d) AS DOUBLE)
      / CAST(nr - 1 AS DOUBLE)
  ELSE 0.0 END AS w2_var_term
FROM risk WHERE d > 0 ORDER BY prio, t
"""


def q_turning_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness cells over the daily event-count
    series — the non-monotone-structure lens next to the registered
    q_runs_test / q_autocorr and the staged q_cox_stuart on the same
    kind of axis.  (operators/temporal.py turning_point_cells.)"""
    from npm_mirror_spark.operators.temporal import turning_point_cells

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return turning_point_cells(daily, "day", "n")


_TURNING_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events
  WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
tri AS (
  SELECT n AS x,
    lag(n) OVER (ORDER BY day) AS prev,
    lead(n) OVER (ORDER BY day) AS nxt
  FROM daily
)
SELECT count(*) AS n_days,
  CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_interior,
  CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                          AND ((prev < x AND nxt < x)
                               OR (prev > x AND nxt > x))
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_turning,
  CASE WHEN count(*) >= 2
       THEN 2.0 * CAST(count(*) - 2 AS DOUBLE) / 3.0 END
    AS expected_turning,
  CASE WHEN sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                     THEN 1 ELSE 0 END) > 0
       THEN CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                           AND ((prev < x AND nxt < x)
                                OR (prev > x AND nxt > x))
                          THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                            THEN 1 ELSE 0 END) AS DOUBLE)
       END AS turning_rate
FROM tri
"""


def q_bartels_rvn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank von Neumann ratio over the daily ORDER-count
    series — the rank-based (outlier-proof) reading of the registered
    q_durbin_watson's lag-1 independence question, on the q_buishand
    fixture.  (operators/temporal.py bartels_rvn_cells.)"""
    from npm_mirror_spark.operators.temporal import bartels_rvn_cells

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return bartels_rvn_cells(daily, "day", "n")


_BARTELS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
vc AS (SELECT n AS x, count(*) AS cd FROM daily GROUP BY n),
mr AS (
  SELECT x,
    2 * coalesce(sum(cd) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cd + 1 AS mr2
  FROM vc
),
seq AS (
  SELECT mr.mr2,
    lead(mr.mr2) OVER (ORDER BY daily.day) AS next2,
    count(*) OVER () AS nn
  FROM daily JOIN mr ON daily.n = mr.x
),
agg AS (
  SELECT max(nn) AS n_days,
    coalesce(sum(CASE WHEN next2 IS NOT NULL
      THEN CAST(mr2 - next2 AS HUGEINT) * (mr2 - next2) END), 0) AS nm,
    coalesce(sum(CAST(mr2 - (nn + 1) AS HUGEINT) * (mr2 - (nn + 1))), 0)
      AS dd
  FROM seq
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CAST(nm AS DOUBLE) AS nm_x4,
  CAST(dd AS DOUBLE) AS d_x4,
  CASE WHEN dd > 0 THEN CAST(nm AS DOUBLE) / CAST(dd AS DOUBLE) END AS rvn
FROM agg
"""


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I / Geary's C at lag 7 over the daily order-count
    series — the weekly seasonal-memory audit: does this weekday's
    volume co-move with the same weekday one week over?  Complements
    the lag-1 q_autocorr / q_durbin_watson and the within-weekday
    q_seasonal_mk on the same fixture family.  (operators/temporal.py
    morans_lag_cells.)"""
    from npm_mirror_spark.operators.temporal import morans_lag_cells

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).filter(F.col("day").isNotNull())
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return morans_lag_cells(daily, "day", "n", lag_days=7)


_MORANS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders
  WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
    sum(CAST(n AS HUGEINT)) AS s1,
    sum(CAST(n AS HUGEINT) * n) AS s2
  FROM daily
),
pairs AS (
  SELECT count(*) AS n_pairs,
    coalesce(sum((tot.n * a.n - tot.s1) * (tot.n * b.n - tot.s1)), 0)
      AS pp,
    coalesce(sum(CAST(b.n - a.n AS HUGEINT) * (b.n - a.n)), 0) AS sd
  FROM daily a
  JOIN daily b ON b.day = a.day + INTERVAL 7 DAY
  CROSS JOIN tot
)
SELECT CAST(tot.n AS BIGINT) AS n_days,
  7 AS lag_days,
  CAST(pairs.n_pairs AS BIGINT) AS n_pairs,
  CAST(pairs.pp AS DOUBLE) AS pair_prod_xn2,
  CAST(pairs.sd AS DOUBLE) AS sq_diff_sum,
  CAST(tot.n * tot.s2 - tot.s1 * tot.s1 AS DOUBLE) AS m2_xn,
  CASE WHEN pairs.n_pairs > 0 AND tot.n * tot.s2 - tot.s1 * tot.s1 > 0
       THEN CAST(pairs.pp AS DOUBLE)
            / (CAST(pairs.n_pairs AS DOUBLE)
               * CAST(tot.n * tot.s2 - tot.s1 * tot.s1 AS DOUBLE))
       END AS morans_i,
  CASE WHEN pairs.n_pairs > 0 AND tot.n * tot.s2 - tot.s1 * tot.s1 > 0
       THEN CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) - 1.0)
            * CAST(pairs.sd AS DOUBLE)
            / (2.0 * CAST(pairs.n_pairs AS DOUBLE)
               * CAST(tot.n * tot.s2 - tot.s1 * tot.s1 AS DOUBLE))
       END AS gearys_c
FROM tot CROSS JOIN pairs
"""


def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF/PACF cells to lag 3 (operators/temporal.py:pacf_cells) over
    daily order counts — the Box-Jenkins order diagnostic beside
    q_autocorr's lag-1 squared dodge: covariance-RATIO ACF (no sqrt,
    denominators cleared to exact integers) and the unrolled
    Durbin-Levinson PACF as a fixed IEEE sequence on the reported
    ratios."""
    from npm_mirror_spark.operators.temporal import pacf_cells

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return pacf_cells(daily, "day", "n")


_PACF_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
  FROM orders GROUP BY 1),
g AS (
  SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(x AS BIGINT) AS x
  FROM daily),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(count(*) AS DOUBLE) AS nn,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS ss,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
  FROM g),
ks AS (SELECT * FROM (VALUES (1), (2), (3)) t(k)),
pairs AS (
  SELECT ks.k, a.x AS xa, b.x AS xb
  FROM g a CROSS JOIN ks JOIN g b ON b.d = a.d + ks.k),
per AS (
  SELECT k, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(xa AS DECIMAL(38,0)) * xb) AS DOUBLE) AS sab,
         CAST(sum(CAST(xa AS DECIMAL(38,0))) AS DOUBLE) AS a,
         CAST(sum(CAST(xb AS DECIMAL(38,0))) AS DOUBLE) AS b
  FROM pairs GROUP BY 1),
pvt AS (
  SELECT max(CASE WHEN k = 1 THEN m END) AS m1,
         max(CASE WHEN k = 2 THEN m END) AS m2,
         max(CASE WHEN k = 3 THEN m END) AS m3,
         max(CASE WHEN k = 1 THEN sab END) AS sab1,
         max(CASE WHEN k = 2 THEN sab END) AS sab2,
         max(CASE WHEN k = 3 THEN sab END) AS sab3,
         max(CASE WHEN k = 1 THEN a END) AS a1,
         max(CASE WHEN k = 2 THEN a END) AS a2,
         max(CASE WHEN k = 3 THEN a END) AS a3,
         max(CASE WHEN k = 1 THEN b END) AS b1,
         max(CASE WHEN k = 2 THEN b END) AS b2,
         max(CASE WHEN k = 3 THEN b END) AS b3
  FROM per),
one AS (
  SELECT tot.n0 AS n_days, tot.nn AS nn, tot.ss AS ss,
         tot.sxx AS sxx,
         nn * nn * sab1 - nn * ss * (a1 + b1)
           + CAST(m1 AS DOUBLE) * ss * ss AS c1x,
         nn * nn * sab2 - nn * ss * (a2 + b2)
           + CAST(m2 AS DOUBLE) * ss * ss AS c2x,
         nn * nn * sab3 - nn * ss * (a3 + b3)
           + CAST(m3 AS DOUBLE) * ss * ss AS c3x
  FROM tot CROSS JOIN pvt),
staged AS (
  SELECT n_days, nn * nn * sxx - nn * ss * ss AS c0,
         coalesce(c1x, 0.0) AS c1, coalesce(c2x, 0.0) AS c2,
         coalesce(c3x, 0.0) AS c3
  FROM one),
rr AS (
  SELECT n_days, c0, c1, c2, c3,
         CASE WHEN c0 > 0 THEN c1 / c0 END AS r1,
         CASE WHEN c0 > 0 THEN c2 / c0 END AS r2,
         CASE WHEN c0 > 0 THEN c3 / c0 END AS r3
  FROM staged),
p2 AS (
  SELECT rr.*, r1 AS pacf1,
         CASE WHEN 1.0 - r1 * r1 <> 0
           THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS pacf2
  FROM rr)
SELECT n_days, c0, c1, c2, c3, r1, r2, r3, pacf1, pacf2,
  CASE WHEN 1.0 - (r1 * (1.0 - pacf2)) * r1 - pacf2 * r2 <> 0
    THEN (r3 - (r1 * (1.0 - pacf2)) * r2 - pacf2 * r1)
         / (1.0 - (r1 * (1.0 - pacf2)) * r1 - pacf2 * r2)
  END AS pacf3
FROM p2
"""


def q_asof_plain(spark, sf_dir):
    """The composition form of the as-of join (equi-join + argmax window):
    exactness baseline for q_asof_join's bucketed plan. Fan-out is
    O(history) per event — fine at validation scale, not the 100 TB plan."""
    from npm_mirror_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_date"),
            F.col("o_orderkey").alias("last_order_key"),
        )
    )
    return asof_join(
        ev,
        o,
        on="user_id",
        left_ts="ts",
        right_ts="last_order_date",
        right_cols=["last_order_date", "last_order_key"],
        tiebreak=["last_order_key"],
    )


# same semantics, same oracle — the two registered Spark forms differ
# only in join topology (bucketed vs composition)
_ASOF_PLAIN_SQL = """
SELECT event_id, user_id, ts, last_order_date, last_order_key FROM (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate AS last_order_date, o.o_orderkey AS last_order_key,
         row_number() OVER (PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST,
                    o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
"""


def q_range_join(spark, sf_dir):
    """Range (interval) join: pairs of same-user events within 10 minutes
    forward — operators/temporal.py equi+range composition."""
    from npm_mirror_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    a = ev.select("event_id", "user_id", "ts")
    b = ev.select(
        F.col("user_id"),
        F.col("ts").alias("ts2"),
        F.col("event_id").alias("next_event_id"),
    )
    pairs = range_join(
        a,
        b,
        on="user_id",
        left_ts="ts",
        right_ts="ts2",
        lower=F.expr("INTERVAL 0 SECONDS"),
        upper=F.expr("INTERVAL 10 MINUTES"),
    ).filter(F.col("next_event_id") != F.col("event_id"))
    return pairs.select(
        "event_id",
        "next_event_id",
        (F.unix_micros(F.col("ts2")) - F.unix_micros(F.col("ts"))).alias("gap_us"),
    )


_RANGE_JOIN_SQL = """
SELECT a.event_id, b.event_id AS next_event_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTES
 AND b.event_id != a.event_id
"""


def q_asof_join(spark, sf_dir):
    """As-of join (no native Spark operator): for each event, the latest
    order of the same customer at-or-before the event time.

    Registered as the BUCKETED form (operators/temporal.py:asof_join_bucketed):
    each event meets only same-(customer, month-bucket) orders plus one
    pre-aggregated latest-before-bucket row, so join fan-out is O(bucket
    occupancy) instead of O(order history) — the form that survives 100 TB.
    q_asof_plain registers the composition form against the same oracle as
    the cross-validation twin."""
    from npm_mirror_spark.operators.temporal import asof_join_bucketed

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_date"),
            F.col("o_orderkey").alias("last_order_key"),
        )
    )
    return asof_join_bucketed(
        ev,
        o,
        on="user_id",
        left_ts="ts",
        right_ts="last_order_date",
        right_cols=["last_order_date", "last_order_key"],
        tiebreak=["last_order_key"],
        bucket_seconds=30 * 86_400,
    )


_ASOF_JOIN_SQL = """
SELECT event_id, user_id, ts, last_order_date, last_order_key FROM (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate AS last_order_date, o.o_orderkey AS last_order_key,
         row_number() OVER (PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST,
                    o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
"""


def q_cusum(spark, sf_dir):
    """CUSUM change-point over the daily order-count series
    (operators/temporal.py:cusum_changepoint): the day whose prefix sum
    deviates most from the uniform-rate line, |m*S_k - k*S_m| in exact
    cross-multiplied integers (no division inside the argmax).  The
    prefix window orders the bounded calendar-day axis (the
    q_drift_weekly contract); the (m, total) singleton fold broadcasts.
    The monitoring primitive behind 'did the feed rate shift?'."""
    from npm_mirror_spark.operators.temporal import cusum_changepoint

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return nodec(cusum_changepoint(daily, "day", "n"))


# q_cusum: |m*S_k - k*S_m| in HUGEINT over the bounded day axis,
# argmax to the smallest attaining day, one division at the end.
_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1),
g AS (
  SELECT date_diff('day', DATE '1970-01-01', day) AS d, n FROM daily),
p AS (
  SELECT d,
         sum(n) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         row_number() OVER (ORDER BY d) AS k
  FROM g),
t AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n) AS BIGINT) AS total FROM g),
dev AS (
  SELECT d,
         abs(CAST(t.m AS HUGEINT) * CAST(s AS HUGEINT)
             - CAST(k AS HUGEINT) * CAST(t.total AS HUGEINT)) AS dev
  FROM p CROSS JOIN t)
SELECT t.m, t.total,
       CAST((SELECT min(d) FROM dev WHERE dev = (SELECT max(dev) FROM dev))
            AS INTEGER) AS day_star,
       CAST(CAST((SELECT max(dev) FROM dev) AS VARCHAR) AS DOUBLE)
         AS dev_num,
       CAST(CAST((SELECT max(dev) FROM dev) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(t.m AS HUGEINT) * CAST(t.total AS HUGEINT)
                     AS VARCHAR) AS DOUBLE)
         AS dev_frac
FROM t
"""


def q_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of daily order counts
    (operators/temporal.py:autocorr1_daily): consecutive-day pairs via
    a self-EQUI-join on day+1 (no window), five Pearson moments as
    exact DECIMAL(38,0) folds, and the sqrt dodged by reporting
    r2 = (num/d1)*(num/d2) plus the sign — same information, three
    deterministic IEEE ops.  The seasonality detector feeding
    q_seasonal_outliers' bucket choice."""
    from npm_mirror_spark.operators.temporal import autocorr1_daily

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return nodec(autocorr1_daily(daily, "day", "n"))


# q_autocorr: consecutive-day pairs by equi-join on day+1, five exact
# HUGEINT moments, r2 = (num/d1)*(num/d2) and the sign — sqrt-free.
_AUTOCORR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1),
g AS (
  SELECT date_diff('day', DATE '1970-01-01', day) AS d, n FROM daily),
pairs AS (
  SELECT a.n AS x, b.n AS y FROM g a JOIN g b ON b.d = a.d + 1),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m_pairs,
         sum(CAST(x AS HUGEINT)) AS s_x,
         sum(CAST(y AS HUGEINT)) AS s_y,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s_xx,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS s_yy,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS s_xy
  FROM pairs),
r AS (
  SELECT *,
         CAST(m_pairs AS HUGEINT) * s_xy - s_x * s_y AS r_num,
         CAST(m_pairs AS HUGEINT) * s_xx - s_x * s_x AS d1,
         CAST(m_pairs AS HUGEINT) * s_yy - s_y * s_y AS d2
  FROM m)
SELECT m_pairs,
       CAST(CAST(s_x AS VARCHAR) AS DOUBLE) AS s_x,
       CAST(CAST(s_y AS VARCHAR) AS DOUBLE) AS s_y,
       CAST(CAST(s_xx AS VARCHAR) AS DOUBLE) AS s_xx,
       CAST(CAST(s_yy AS VARCHAR) AS DOUBLE) AS s_yy,
       CAST(CAST(s_xy AS VARCHAR) AS DOUBLE) AS s_xy,
       CAST(CAST(r_num AS VARCHAR) AS DOUBLE) AS r_num,
       CAST(CAST(d1 AS VARCHAR) AS DOUBLE) AS d1,
       CAST(CAST(d2 AS VARCHAR) AS DOUBLE) AS d2,
       (CAST(CAST(r_num AS VARCHAR) AS DOUBLE)
          / CAST(CAST(d1 AS VARCHAR) AS DOUBLE))
         * (CAST(CAST(r_num AS VARCHAR) AS DOUBLE)
              / CAST(CAST(d2 AS VARCHAR) AS DOUBLE)) AS r2,
       CAST(sign(CAST(CAST(r_num AS VARCHAR) AS DOUBLE)) AS INTEGER)
         AS r_sign
FROM r
"""


def q_interval_coverage(spark, sf_dir):
    """Overlapping-interval union per supplier
    (operators/temporal.py:interval_coverage_days): each lineitem opens
    a [shipdate, shipdate + quantity days] service window; the report
    merges overlaps into covered-day counts, island counts and span
    bounds per supplier.  The gaps-and-islands problem as a BOUNDARY
    SWEEP: 2 delta rows per interval (+1 at start, -1 past end, clamped
    by max_days), one (key, day) int-sum groupBy, one per-key window
    over the bounded calendar-day axis (the q_drift_weekly contract) —
    no day-grain explode, no per-key ordered window over raw intervals.
    Epoch-day integers, timezone-proof."""
    from npm_mirror_spark.operators.temporal import interval_coverage_days

    li = _t(spark, sf_dir, "lineitem")
    return interval_coverage_days(
        li,
        "l_suppkey",
        F.col("l_shipdate").cast("date"),
        F.floor(F.col("l_quantity")).cast("int"),
        max_days=60,
    ).orderBy("l_suppkey")


# q_interval_coverage: bounded day-grain explode via generate_series,
# distinct union, island starts as the predecessor-day NOT EXISTS.
_INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  SELECT l_suppkey AS k,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           AS d0,
         least(CAST(floor(l_quantity) AS INTEGER), 60) AS nd
  FROM lineitem),
days AS (
  SELECT DISTINCT k, d0 + i AS day
  FROM iv, unnest(generate_series(0, nd)) AS t(i)),
starts AS (
  SELECT d.k, d.day FROM days d
  WHERE NOT EXISTS (
    SELECT 1 FROM days p WHERE p.k = d.k AND p.day = d.day - 1)),
cov AS (
  SELECT k, count(*) AS covered_days,
         min(day) AS first_day, max(day) AS last_day
  FROM days GROUP BY k),
isl AS (SELECT k, count(*) AS n_islands FROM starts GROUP BY k)
SELECT cov.k AS l_suppkey, covered_days, n_islands,
       CAST(first_day AS INTEGER) AS first_day,
       CAST(last_day AS INTEGER) AS last_day
FROM cov JOIN isl USING (k)
ORDER BY l_suppkey
"""


def q_changepoint(spark, sf_dir):
    """Binary-segmentation change-point on daily order counts
    (operators/temporal.py:binseg_changepoint): the least-squares best
    split day and the variance it explains — q_cusum locates the max
    prefix deviation, this reports the mean-shift segmentation a
    recursion would commit.  Exact DECIMAL(38,0) SSE numerators off the
    bounded day-axis prefix, fixed two-division IEEE cost,
    deterministic (cost, day) struct-min (the q_gini_split pattern on
    the time axis)."""
    from npm_mirror_spark.operators.temporal import binseg_changepoint

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return nodec(binseg_changepoint(daily, "day", "n"))


# q_changepoint: cumulative (S, Q) prefix replay on the day axis, exact
# HUGEINT SSE numerators (VARCHAR-routed), argmin by (cost, day).
_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
pre AS (
  SELECT d,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
         sum(CAST(x AS HUGEINT)) OVER win AS sl,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER win AS ql
  FROM daily
  WINDOW win AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
  FROM daily),
scored AS (
  SELECT n_days, d AS split_day, k AS n_left,
         CAST(CAST(sl AS VARCHAR) AS DOUBLE) / CAST(k AS DOUBLE) AS mean_left,
         CAST(CAST(s - sl AS VARCHAR) AS DOUBLE)
           / CAST(n_days - k AS DOUBLE) AS mean_right,
         CAST(CAST(CAST(k AS HUGEINT) * ql - sl * sl AS VARCHAR) AS DOUBLE)
           / CAST(k AS DOUBLE)
         + CAST(CAST(CAST(n_days - k AS HUGEINT) * (q - ql)
                     - (s - sl) * (s - sl) AS VARCHAR) AS DOUBLE)
           / CAST(n_days - k AS DOUBLE) AS sse_split,
         CAST(CAST(CAST(n_days AS HUGEINT) * q - s * s AS VARCHAR) AS DOUBLE)
           / CAST(n_days AS DOUBLE) AS sse_total
  FROM pre CROSS JOIN tot
  WHERE k < n_days)
SELECT n_days, CAST(split_day AS INTEGER) AS split_day, n_left,
       mean_left, mean_right, sse_split, sse_total,
       sse_total - sse_split AS gain
FROM scored ORDER BY sse_split, split_day LIMIT 1
"""
