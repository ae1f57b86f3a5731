"""Faces built on the aggregation operators (``aggregates``,
``sketches``, ``bloom``, ``skew``, ``skyline``): the mirror-record and
retention shapes, exact and sketched counts, quantiles and heavy hitters,
each next to its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from npm_mirror_spark.faces import dec_sum, line_recency
from npm_mirror_spark.operators import aggregates as agg_ops
from npm_mirror_spark.operators import bloom as bloom_ops
from npm_mirror_spark.operators import sketches as sketch_ops
from npm_mirror_spark.tables import load_table as _t


def _LATEST_ORDER():
    return [F.desc("o_orderdate"), F.desc("o_orderkey")]


def q_flag_route(spark, sf_dir):
    """F6/F8/P8: deleted-flag routing (changes_consumer.py:256-264) —
    per-route counts over the orders status flag."""
    o = _t(spark, sf_dir, "orders")
    routed = o.withColumn(
        "route",
        F.when(F.col("o_orderstatus") == "F", F.lit("deleted"))
        .when(F.col("o_orderstatus") == "O", F.lit("update"))
        .otherwise(F.lit("processing")),
    )
    return agg_ops.count_by(routed, "route")


_FLAG_ROUTE_SQL = (
    "SELECT CASE WHEN o_orderstatus = 'F' THEN 'deleted' "
    "WHEN o_orderstatus = 'O' THEN 'update' ELSE 'processing' END AS route, "
    "count(*) AS n FROM orders GROUP BY 1"
)


def q_argmax_latest(spark, sf_dir):
    """A1/P2: arg-max-per-group — latest order per customer
    (organize-NAS.py:20-28)."""
    o = _t(spark, sf_dir, "orders")
    latest = agg_ops.argmax_latest(o, ["o_custkey"], _LATEST_ORDER())
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_order_key"),
        F.col("o_orderdate").alias("latest_order_date"),
    )


_ARGMAX_LATEST_SQL = (
    "SELECT o_custkey, o_orderkey AS latest_order_key, o_orderdate AS latest_order_date "
    "FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) "
    "WHERE rn = 1"
)


def q_mirror_record(spark, sf_dir):
    """P1/P3/P4/K3 — THE flagship: the 13-field mirror-record projection
    (changes_consumer.py:283-329) re-expressed over the driver's star
    schema: per customer, latest-order fields + counts + routed save path.

    Plan shape: one shuffle of orders on o_custkey feeds BOTH the window
    and the aggregate; customer joins in on the same key. At 100 TB the
    orders side shuffles once, the 13-field output never materializes the
    unused order columns.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    latest = agg_ops.argmax_latest(o, ["o_custkey"], _LATEST_ORDER()).select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_order_key"),
        F.col("o_orderstatus").alias("latest_status"),
        F.col("o_orderdate").alias("latest_order_date"),
    )
    counts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        dec_sum("o_totalprice", "total_spend"),
    )
    deleted = F.col("latest_status") == "F"
    return (
        c.join(latest, c.c_custkey == latest.o_custkey)
        .join(counts, "o_custkey")
        .select(
            F.col("c_custkey").alias("package_key"),
            F.col("c_name").alias("package_name"),
            "latest_order_key",
            "latest_status",
            "latest_order_date",
            "order_count",
            "total_spend",
            deleted.alias("package_deleted"),
            F.concat(
                F.when(deleted, F.lit("Deleted-")).otherwise(F.lit("")),
                F.col("c_name"),
                F.lit("_"),
                F.col("latest_order_key").cast("string"),
                F.lit(".zip"),
            ).alias("change_save_path"),
        )
    )


_MIRROR_RECORD_SQL = """
WITH latest AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders),
agg AS (
  SELECT o_custkey, count(*) AS order_count,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY 1)
SELECT c.c_custkey AS package_key, c.c_name AS package_name,
       l.o_orderkey AS latest_order_key, l.o_orderstatus AS latest_status,
       l.o_orderdate AS latest_order_date,
       a.order_count AS order_count, a.total_spend AS total_spend,
       (l.o_orderstatus = 'F') AS package_deleted,
       (CASE WHEN l.o_orderstatus = 'F' THEN 'Deleted-' ELSE '' END
        || c.c_name || '_' || CAST(l.o_orderkey AS VARCHAR) || '.zip') AS change_save_path
FROM customer c
JOIN latest l ON l.o_custkey = c.c_custkey AND l.rn = 1
JOIN agg a ON a.o_custkey = c.c_custkey
"""


def q_retention_topn(spark, sf_dir):
    """A2 keep-side: newest-5-per-group retention
    (changes_consumer.py:25,220-243)."""
    li = _t(spark, sf_dir, "lineitem")
    kept = agg_ops.retention_topn(
        li, ["l_partkey"], line_recency(), n=5, rank_col="keep_rank"
    )
    return kept.select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate", "keep_rank")


_RETENTION_TOPN_SQL = (
    "SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate, rn AS keep_rank FROM "
    "(SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate, row_number() OVER "
    "(PARTITION BY l_partkey ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn "
    "FROM lineitem) WHERE rn <= 5"
)


def q_retention_tombstone(spark, sf_dir):
    """A2 exact semantics: GC the oldest orders beyond the newest-5 per
    customer, skipping any order whose successor is a tombstone (status
    'F' plays the Deleted- zip, changes_consumer.py:230-243)."""
    o = _t(spark, sf_dir, "orders")
    dropped = agg_ops.retention_gc_tombstone_guard(
        o,
        ["o_custkey"],
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        tombstone=(F.col("o_orderstatus") == "F"),
        n=5,
    )
    return dropped.select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")


_RETENTION_TOMBSTONE_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS cnt,
         lead(o_orderstatus = 'F') OVER w AS next_tomb
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC))
SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
FROM r WHERE rn <= cnt - 5 AND NOT coalesce(next_tomb, false)
"""


def q_count_events(spark, sf_dir):
    """A3: event counters as groupBy counts (changes_consumer.py:39,370)."""
    return agg_ops.count_by(_t(spark, sf_dir, "events"), "event_type")


_COUNT_EVENTS_SQL = "SELECT event_type, count(*) AS n FROM events GROUP BY 1"


def q_max_seq(spark, sf_dir):
    """A4/J3/S5: start-seq reconciliation — max over the stream vs a
    configured floor (producer.ts:61-97)."""
    return agg_ops.max_seq(_t(spark, sf_dir, "events"), "event_id", floor=5000)


_MAX_SEQ_SQL = "SELECT greatest(CAST(max(event_id) AS BIGINT), 5000) AS start_seq FROM events"


def q_lag(spark, sf_dir):
    """A5: lag = newest_seq - last_seq (producer.ts:206-243), per user."""
    return agg_ops.lag_per_group(
        _t(spark, sf_dir, "events"), "user_id", "event_id", alias="seq_lag"
    )


_LAG_SQL = (
    "SELECT user_id, (SELECT max(event_id) FROM events) - max(event_id) AS seq_lag "
    "FROM events GROUP BY user_id"
)


def q_union_logs(spark, sf_dir):
    """K2: the 5-topic stage fan-out (changes_consumer.py:53-59,332-370) —
    five routed branches unioned back, counted per stage."""
    ev = _t(spark, sf_dir, "events")
    stage_map = {
        "click": "downloaded_in_local",
        "view": "moved_to_remote",
        "purchase": "added_to_db",
        "error": "skipped_changes",
        "signup": "run_logs",
    }
    branches = [
        ev.filter(F.col("event_type") == k).withColumn("stage", F.lit(v))
        for k, v in stage_map.items()
    ]
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    return agg_ops.count_by(unioned, "stage")


_UNION_LOGS_SQL = (
    "SELECT CASE event_type WHEN 'click' THEN 'downloaded_in_local' "
    "WHEN 'view' THEN 'moved_to_remote' WHEN 'purchase' THEN 'added_to_db' "
    "WHEN 'error' THEN 'skipped_changes' ELSE 'run_logs' END AS stage, "
    "count(*) AS n FROM events GROUP BY 1"
)


def q_binned_quantiles(spark, sf_dir):
    """Approximate quantiles with EXACT-replay arithmetic
    (operators/sketches.py:binned_quantiles): a 256-bin equi-width
    histogram of lineitem prices (one int-count shuffle, mergeable
    bin-wise) and the in-bin interpolated p50/p90/p99 read-out —
    deterministic doubles from exact integer counts, so unlike
    percentile_approx's KLL this approximate answer hash-matches its
    oracle. Error bound: one bin width (also pinned vs the exact
    percentile in tests/test_sketches.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return sketch_ops.binned_quantiles(
        li, "l_extendedprice", qs=(0.5, 0.9, 0.99), bins=256
    )


# q_binned_quantiles: histogram bins, bounded cumulative window, and the
# identical interpolation expression — exact ints feeding fixed-shape
# doubles.
_BINNED_QUANTILES_SQL = """
WITH stats AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
                      CAST(max(l_extendedprice) AS DOUBLE) AS mx
               FROM lineitem WHERE isfinite(l_extendedprice)),
b AS (SELECT CASE WHEN (mx - mn) <= 0 THEN 0
             ELSE least(255, CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn)
                                        / (mx - mn) * 256) AS INTEGER)) END AS bin,
             mn, mx
      FROM lineitem CROSS JOIN stats
      WHERE isfinite(l_extendedprice)),
counts AS (SELECT bin, mn, mx, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
cum AS (SELECT bin, cnt, mn, mx,
          coalesce(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
            PRECEDING AND 1 PRECEDING), 0) AS cumb,
          sum(cnt) OVER () AS n
        FROM counts),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.5), (0.9), (0.99)) AS t(q))
SELECT q,
       CASE WHEN (mx - mn) <= 0 THEN mn
            ELSE mn + (mx - mn)
                 * (CAST(bin AS DOUBLE)
                    + (CAST(q AS DOUBLE) * CAST(n AS DOUBLE) - cumb) / cnt)
                 / 256.0
       END AS est,
       CAST(n AS BIGINT) AS n
FROM cum CROSS JOIN qs
WHERE CAST(q AS DOUBLE) * CAST(n AS DOUBLE) > cumb
  AND CAST(q AS DOUBLE) * CAST(n AS DOUBLE) <= cumb + cnt
"""


def q_skew_report(spark, sf_dir):
    """Key-skew diagnosis (operators/skew.py:skew_report) over the
    events user axis: the top-5 heaviest user_ids with global
    distribution stats (max/mean skew ratio, suggested salt buckets) —
    the measurement a pipeline runs BEFORE keying a 100 TB shuffle, and
    the decision input for salted_count_by / AQE skew handling. One
    (key) count shuffle; everything after runs on the bounded key-count
    table."""
    from npm_mirror_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id", top_k=5)


# q_skew_report: exact key counts; the global stats fold and the
# top-k both run over the bounded count table; the ratio and its ceil
# are fixed-shape double expressions over exact longs.
_SKEW_REPORT_SQL = """
WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_count FROM c),
t AS (SELECT key, CAST(cnt AS BIGINT) AS cnt FROM c
      ORDER BY cnt DESC, key ASC LIMIT 5)
SELECT t.key, t.cnt, s.n_rows, s.n_keys, s.max_count,
       CAST(s.max_count AS DOUBLE) * CAST(s.n_keys AS DOUBLE)
         / CAST(s.n_rows AS DOUBLE) AS skew_ratio,
       CAST(ceil(CAST(s.max_count AS DOUBLE) * CAST(s.n_keys AS DOUBLE)
                 / CAST(s.n_rows AS DOUBLE)) AS INTEGER) AS suggested_salt
FROM t CROSS JOIN s
"""


def q_join_size_est(spark, sf_dir):
    """Self-join size (second frequency moment F2) from CMS inner
    products (operators/sketches.py:count_min_join_size — the AMS-style
    estimator): predicts the events-to-events user_id join's output
    explosion WITHOUT running the join. Output one row
    (est_join_rows, exact_join_rows, overcount) pinning the one-sided
    bound est >= exact = sum_u cnt_u^2; exact integer arithmetic, so
    the oracle replays the estimate bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    est = sketch_ops.count_min_join_size(ev, "user_id", ev, "user_id", 4, 64)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_join_rows"))
    )
    return est.crossJoin(exact).select(
        "est_join_rows",
        "exact_join_rows",
        (F.col("est_join_rows") - F.col("exact_join_rows")).alias("overcount"),
    )


# q_join_size_est: the CMS self-inner-product (F2) replayed with the
# identical seeded cells; depth axis re-anchored so an empty hash row
# estimates 0; exact = sum of squared per-key counts.
_JOIN_SIZE_EST_SQL = """
WITH r AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(r)),
cells AS (
  SELECT r,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 64 AS b,
         count(*) AS c
  FROM events CROSS JOIN r
  GROUP BY 1, 2),
per_row AS (SELECT r, sum(c * c) AS s FROM cells GROUP BY r),
f AS (SELECT r.r, coalesce(p.s, 0) AS s FROM r LEFT JOIN per_row p USING (r)),
est AS (SELECT CAST(min(s) AS BIGINT) AS est_join_rows FROM f),
exact AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_join_rows
          FROM (SELECT count(*) AS cnt FROM events GROUP BY user_id))
SELECT est.est_join_rows, exact.exact_join_rows,
       est.est_join_rows - exact.exact_join_rows AS overcount
FROM est CROSS JOIN exact
"""


def q_hll_setops(spark, sf_dir):
    """HLL set algebra with EXACT-replay arithmetic
    (operators/sketches.py:hll_union): customer sets of the even- and
    odd-orderkey halves of orders, their union by cell-wise register
    max (no access to raw keys — the merge a map-side partial already
    does), and the inclusion-exclusion intersection estimate beside the
    exact intersection. One row: (est_a, est_b, est_union,
    est_intersect, exact_intersect). Every register and every estimate
    replays bit-for-bit (the q_hll_replay contract extended to set
    operations)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderkey") % 2 == 0)
    b = o.where(F.col("o_orderkey") % 2 == 1)
    ra = sketch_ops.hll_registers(a, "o_custkey")
    rb = sketch_ops.hll_registers(b, "o_custkey")
    ea = sketch_ops.hll_estimate(ra).select(F.col("est").alias("est_a"))
    eb = sketch_ops.hll_estimate(rb).select(F.col("est").alias("est_b"))
    eu = sketch_ops.hll_estimate(sketch_ops.hll_union(ra, rb)).select(
        F.col("est").alias("est_union")
    )
    exact = (
        a.select("o_custkey")
        .intersect(b.select("o_custkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(exact)
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersect"
            ),
            "exact_intersect",
        )
    )


# q_hll_setops: per-side registers, the full-outer max merge, and the
# identical closed-form estimates (the q_hll_replay constants), plus
# the exact INTERSECT for the accuracy pin.
_HLL_SETOPS_SQL = """
WITH ha AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM orders WHERE o_orderkey % 2 = 0),
hb AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM orders WHERE o_orderkey % 2 = 1),
ka AS (SELECT CAST(h % 256 AS INTEGER) AS idx, h // 256 AS w FROM ha),
kb AS (SELECT CAST(h % 256 AS INTEGER) AS idx, h // 256 AS w FROM hb),
ra AS (SELECT idx, max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mreg
       FROM ka GROUP BY idx),
rb AS (SELECT idx, max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mreg
       FROM kb GROUP BY idx),
ru AS (SELECT coalesce(a.idx, b.idx) AS idx,
              greatest(coalesce(a.mreg, 0), coalesce(b.mreg, 0)) AS mreg
       FROM ra a FULL JOIN rb b ON a.idx = b.idx),
fa AS (SELECT sum(1::BIGINT << (53 - mreg)) AS s_obs, count(*) AS n_obs FROM ra),
fb AS (SELECT sum(1::BIGINT << (53 - mreg)) AS s_obs, count(*) AS n_obs FROM rb),
fu AS (SELECT sum(1::BIGINT << (53 - mreg)) AS s_obs, count(*) AS n_obs FROM ru),
ea AS (SELECT 0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
         / CAST(s_obs + (256 - n_obs) * (1::BIGINT << 53) AS DOUBLE) AS est_a FROM fa),
eb AS (SELECT 0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
         / CAST(s_obs + (256 - n_obs) * (1::BIGINT << 53) AS DOUBLE) AS est_b FROM fb),
eu AS (SELECT 0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
         / CAST(s_obs + (256 - n_obs) * (1::BIGINT << 53) AS DOUBLE) AS est_union FROM fu),
exact AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersect FROM
  (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
   INTERSECT
   SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 1))
SELECT est_a, est_b, est_union, est_a + est_b - est_union AS est_intersect,
       exact_intersect
FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN exact
"""


def q_hll_by_group(spark, sf_dir):
    """Grouped HLL distinct-users per event_type PLUS a '__all__' row
    rolled up from the SAME registers (operators/sketches.py:
    hll_registers_by/hll_estimate_by): one md5 pass answers every
    breakdown — per-group estimates via a keyed harmonic fold, the
    global estimate via register max ACROSS groups (union semantics,
    raw keys never revisited). The exact count_distinct columns are
    the validation face pinning estimator quality per group. Same
    exact-replay arithmetic as q_hll_replay, so the whole cube
    hash-matches the SQL oracle."""
    ev = _t(spark, sf_dir, "events")
    regs = sketch_ops.hll_registers_by(ev, ["event_type"], "user_id", p=8)
    per = sketch_ops.hll_estimate_by(regs, ["event_type"], p=8)
    pexact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    rel = lambda: (
        (F.col("est") - F.col("n_exact").cast("double"))
        / F.col("n_exact").cast("double")
    ).alias("rel_err")
    per_out = per.join(pexact, "event_type").select(
        "event_type", "zero_registers", "hll_sum", "n_exact", "est", rel()
    )
    rolled = sketch_ops.hll_estimate(
        regs.groupBy("idx").agg(F.max("mreg").alias("mreg")), p=8
    )
    gexact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    all_row = rolled.crossJoin(F.broadcast(gexact)).select(
        F.lit("__all__").alias("event_type"),
        "zero_registers",
        "hll_sum",
        "n_exact",
        "est",
        rel(),
    )
    return per_out.unionByName(all_row).orderBy("event_type")


# q_hll_by_group: the grouped register algebra replayed — per-group
# registers, keyed harmonic folds, and the '__all__' roll-up from max
# over groups; identical estimator constants to q_hll_replay.
_HLL_BY_GROUP_SQL = """
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
k AS (SELECT event_type, CAST(h % 256 AS INTEGER) AS idx, h // 256 AS w FROM h),
regs AS (
  SELECT event_type, idx,
         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mreg
  FROM k GROUP BY 1, 2),
per AS (
  SELECT event_type,
         sum(1::BIGINT << (53 - mreg)) AS s_obs,
         count(*) AS n_obs
  FROM regs GROUP BY 1),
pexact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1),
roll AS (SELECT idx, max(mreg) AS mreg FROM regs GROUP BY 1),
rfold AS (
  SELECT sum(1::BIGINT << (53 - mreg)) AS s_obs, count(*) AS n_obs FROM roll),
gexact AS (SELECT count(DISTINCT user_id) AS n_exact FROM events),
unioned AS (
  SELECT p.event_type,
         CAST(256 - p.n_obs AS BIGINT) AS zero_registers,
         CAST(p.s_obs + (256 - p.n_obs) * (1::BIGINT << 53) AS BIGINT) AS hll_sum,
         e.n_exact,
         0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
           / CAST(p.s_obs + (256 - p.n_obs) * (1::BIGINT << 53) AS DOUBLE) AS est
  FROM per p JOIN pexact e USING (event_type)
  UNION ALL
  SELECT '__all__',
         CAST(256 - r.n_obs AS BIGINT),
         CAST(r.s_obs + (256 - r.n_obs) * (1::BIGINT << 53) AS BIGINT),
         g.n_exact,
         0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
           / CAST(r.s_obs + (256 - r.n_obs) * (1::BIGINT << 53) AS DOUBLE)
  FROM rfold r CROSS JOIN gexact g)
SELECT event_type, zero_registers, hll_sum, n_exact, est,
       (est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
FROM unioned
ORDER BY event_type
"""


def q_quantiles_by_group(spark, sf_dir):
    """Per-source document-length quantiles from ONE histogram pass
    (operators/sketches.py:binned_quantiles_by): per-group min/max as
    a broadcast dim, one (source, bin) integer-count shuffle, per-group
    bounded (<=256-row) cumulative windows — the grouped face of the
    exact-replay quantile sketch, with each group's bins adapted to its
    OWN span (a global histogram would smear narrow sources across the
    corpus range). Approximate in guarantee (error <= one bin width),
    exact in replay: the oracle reproduces every estimate
    bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    return sketch_ops.binned_quantiles_by(
        d, ["source"], "n_chars", qs=(0.5, 0.9, 0.99), bins=256
    ).orderBy("source", "q")


# q_quantiles_by_group: the grouped histogram sketch replayed — per-source
# spans, per-source 256-bin counts, PARTITION BY source cumulative window,
# identical interpolation expression to q_binned_quantiles.
_QUANTILES_BY_GROUP_SQL = """
WITH stats AS (
  SELECT source,
         CAST(min(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS mn,
         CAST(max(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS mx
  FROM documents GROUP BY source),
b AS (
  SELECT d.source,
         CASE WHEN (s.mx - s.mn) <= 0 THEN 0
              ELSE least(255, CAST(floor((CAST(d.n_chars AS DOUBLE) - s.mn)
                                         / (s.mx - s.mn) * 256) AS INTEGER))
         END AS bin,
         s.mn, s.mx
  FROM documents d JOIN stats s USING (source)),
counts AS (SELECT source, bin, mn, mx, count(*) AS cnt FROM b GROUP BY 1, 2, 3, 4),
cum AS (
  SELECT source, bin, cnt, mn, mx,
         coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM counts),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.5), (0.9), (0.99)) AS t(q))
SELECT source, q,
       CASE WHEN (mx - mn) <= 0 THEN mn
            ELSE mn + (mx - mn)
                 * (CAST(bin AS DOUBLE)
                    + (CAST(q AS DOUBLE) * CAST(n AS DOUBLE) - cumb) / cnt)
                 / 256.0
       END AS est,
       CAST(n AS BIGINT) AS n
FROM cum CROSS JOIN qs
WHERE CAST(q AS DOUBLE) * CAST(n AS DOUBLE) > cumb
  AND CAST(q AS DOUBLE) * CAST(n AS DOUBLE) <= cumb + cnt
ORDER BY source, q
"""


def q_trend_by_group(spark, sf_dir):
    """Per-event-type OLS trend of value over time
    (operators/aggregates.py:linear_trend): five exact moment sums per
    group from one partial-aggregated scan, closing slope/intercept
    algebra in one fixed double expression — trend detection (is this
    source's quality score drifting down?) at one-scan cost. x is
    epoch seconds shifted to TREND_X0 so x*x stays exact int64; the
    intercept is at that shifted origin by contract."""
    from npm_mirror_spark.operators.aggregates import TREND_X0, linear_trend

    ev = _t(spark, sf_dir, "events")
    return linear_trend(
        ev.withColumn(
            "__xs", F.unix_timestamp("ts") - F.lit(TREND_X0).cast("long")
        ),
        ["event_type"],
        "__xs",
        "value",
    ).orderBy("event_type")


# q_trend_by_group: the five exact moment sums and the identical
# double-algebra closing expression — epoch seconds shifted to the same
# origin; DuckDB decimal sums are the same mathematical values.
_TREND_BY_GROUP_SQL = """
WITH s AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) - 1600000000 AS x,
         CAST(value AS DOUBLE) AS y
  FROM events),
m AS (
  SELECT event_type,
         count(*) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(CAST(y AS DECIMAL(18,4)) * 10000 AS DECIMAL(18,0))) AS sy4,
         sum(CAST(CAST(x AS DECIMAL(12,0))
                  * CAST(CAST(y AS DECIMAL(18,4)) * 10000 AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy4,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
  FROM s GROUP BY event_type),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy4 AS DOUBLE) / 10000.0 AS syd,
         CAST(sxy4 AS DOUBLE) / 10000.0 AS sxyd,
         CAST(sxx AS DOUBLE) AS sxxd
  FROM m),
sl AS (
  SELECT event_type, n, sxd, syd,
         CASE WHEN nd * sxxd - sxd * sxd <> 0
              THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
         END AS slope,
         nd
  FROM d)
SELECT event_type, CAST(n AS BIGINT) AS n, slope,
       CASE WHEN slope IS NOT NULL
            THEN (syd - slope * sxd) / nd END AS intercept
FROM sl
ORDER BY event_type
"""


def q_quantile_bins(spark, sf_dir):
    """Equi-frequency feature discretization WITHOUT a global sort
    (operators/sketches.py:quantile_bins): decile ids for
    l_extendedprice from histogram-derived cut points — one histogram
    pass, a broadcast 9-element cut array, map-side in-row assignment
    (ntile() would sort the corpus on one axis; this is the shuffle-
    free scale path, boundaries off by <= one histogram bin width).
    Output is the per-bin count/min/max audit — near-equal counts and
    non-overlapping value ranges are the discretization quality
    check; the oracle replays cut derivation AND assignment."""
    li = _t(spark, sf_dir, "lineitem")
    out = sketch_ops.quantile_bins(li, "l_extendedprice", n_bins=10)
    return (
        out.groupBy("qbin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("qbin")
    )


# q_quantile_bins: the full chain replayed — the q_binned_quantiles
# histogram with deciles as the quantile set, cut points collected into
# one sorted list, strict-less-than in-row assignment, per-bin audit.
_QUANTILE_BINS_SQL = """
WITH stats AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
                      CAST(max(l_extendedprice) AS DOUBLE) AS mx
               FROM lineitem WHERE isfinite(l_extendedprice)),
b AS (SELECT CASE WHEN (mx - mn) <= 0 THEN 0
             ELSE least(255, CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn)
                                        / (mx - mn) * 256) AS INTEGER)) END AS bin,
             mn, mx
      FROM lineitem CROSS JOIN stats
      WHERE isfinite(l_extendedprice)),
counts AS (SELECT bin, mn, mx, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
cum AS (SELECT bin, cnt, mn, mx,
          coalesce(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
            PRECEDING AND 1 PRECEDING), 0) AS cumb,
          sum(cnt) OVER () AS n
        FROM counts),
qs AS (SELECT * FROM (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),(0.7),(0.8),(0.9)) AS t(q)),
cutrows AS (
  SELECT q,
         CASE WHEN (mx - mn) <= 0 THEN mn
              ELSE mn + (mx - mn)
                   * (CAST(bin AS DOUBLE)
                      + (CAST(q AS DOUBLE) * CAST(n AS DOUBLE) - cumb) / cnt)
                   / 256.0
         END AS est
  FROM cum CROSS JOIN qs
  WHERE CAST(q AS DOUBLE) * CAST(n AS DOUBLE) > cumb
    AND CAST(q AS DOUBLE) * CAST(n AS DOUBLE) <= cumb + cnt),
cuts AS (SELECT list(est ORDER BY est) AS arr FROM cutrows),
assigned AS (
  SELECT CAST(len(list_filter(arr, x -> x < CAST(l_extendedprice AS DOUBLE)))
              AS INTEGER) AS qbin,
         l_extendedprice
  FROM lineitem CROSS JOIN cuts
  WHERE isfinite(l_extendedprice))
SELECT qbin, count(*) AS n,
       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
FROM assigned GROUP BY qbin ORDER BY qbin
"""


def q_bloom_new_customers(spark, sf_dir):
    """Bloom-pre-filtered existence probe (the big-seen-side regime of
    J1/F10's anti join, mirror.ts:114-126): customers that never produced
    a purchase event. The seen-key bitmap is built with one bounded
    word shuffle and travels as a literal; definitely-new probe rows are
    eliminated map-side and never shuffle — only bitmap hits pay the
    exact anti join, so the result (and the oracle) is the plain anti
    join (operators/bloom.py has the sizing math)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    buyers = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_custkey"))
    )
    return bloom_ops.bloom_anti_join(c, buyers, "c_custkey")


_BLOOM_NEW_CUSTOMERS_SQL = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e
                  WHERE e.event_type = 'purchase'
                    AND e.user_id = c.c_custkey)
"""


def q_count_min(spark, sf_dir):
    """Count-Min sketch with EXACT-replay arithmetic
    (operators/sketches.py): a 4x64 CMS over lineitem suppliers built
    as a groupBy — the map-side partial aggregate IS the classic
    mergeable-sketch property — then every supplier probed back through
    the sketch and compared with its exact count. Output
    (l_suppkey, est, exact, overcount) pins the one-sided CMS guarantee
    est >= exact cell-for-cell; seeded md5 hashing makes every estimate
    bit-reproducible in the oracle (unlike q_approx_stats' HLL/KLL,
    approximate by nature)."""
    li = _t(spark, sf_dir, "lineitem")
    sketch = sketch_ops.count_min_sketch(li, "l_suppkey", depth=4, width=64)
    probes = li.select("l_suppkey").distinct()
    est = sketch_ops.count_min_estimate(sketch, probes, "l_suppkey", 4, 64)
    exact = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("exact"))
    return est.join(exact, "l_suppkey").select(
        "l_suppkey",
        "est",
        "exact",
        (F.col("est") - F.col("exact")).alias("overcount"),
    )


# q_count_min: 4x64 Count-Min over lineitem suppliers — cells, probes and
# the min-over-depth estimate all replayed with the identical seeded md5
# bucket hash (operators/sketches.py:_cms_bucket).
_COUNT_MIN_SQL = """
WITH r AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(r)),
cells AS (
  SELECT r,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS b,
         count(*) AS c
  FROM lineitem CROSS JOIN r
  GROUP BY 1, 2),
probes AS (SELECT DISTINCT l_suppkey FROM lineitem),
lk AS (
  SELECT l_suppkey, r,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS b
  FROM probes CROSS JOIN r),
est AS (
  SELECT l_suppkey, min(coalesce(c, 0)) AS est
  FROM lk LEFT JOIN cells USING (r, b)
  GROUP BY l_suppkey),
exact AS (SELECT l_suppkey, count(*) AS exact FROM lineitem GROUP BY 1)
SELECT e.l_suppkey, e.est, x.exact, e.est - x.exact AS overcount
FROM est e JOIN exact x USING (l_suppkey)
"""


def q_hll_replay(spark, sf_dir):
    """HyperLogLog distinct-count over ordering customers with
    EXACT-REPLAY register algebra (operators/sketches.py:hll_registers/
    hll_estimate): seeded md5 bits, leading-zero rank via integer
    bin()-length (no libm), harmonic denominator as an exact integer
    sum of powers of two — so an APPROXIMATE sketch hash-matches a SQL
    oracle bit-for-bit (q_approx_stats' built-in HLL++ is rows-only by
    nature; this face shows the same estimator family fully
    deterministic). Output also carries the exact distinct count and
    the relative error, pinning estimator quality, not just its
    arithmetic. One register shuffle + one 1-row fold; the exact
    count_distinct is validation-face-only cost."""
    o = _t(spark, sf_dir, "orders")
    regs = sketch_ops.hll_registers(o, "o_custkey", p=8)
    est = sketch_ops.hll_estimate(regs, p=8)
    exact = o.agg(F.count_distinct("o_custkey").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        "m",
        "zero_registers",
        "hll_sum",
        "n_exact",
        "est",
        (
            (F.col("est") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )


# q_hll_replay: HLL registers and the closed-form raw estimate replayed
# with identical integer arithmetic (md5 60-bit base, low-8 register
# index, bin()-length rank, exact power-of-two harmonic sum); the only
# float step is the final literal-constant expression, IEEE-identical.
_HLL_REPLAY_SQL = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders),
k AS (SELECT CAST(h % 256 AS INTEGER) AS idx, h // 256 AS w FROM h),
regs AS (
  SELECT idx,
         max(CASE WHEN w = 0 THEN 53
                  ELSE 53 - length(bin(w)) END) AS mreg
  FROM k GROUP BY idx),
folded AS (
  SELECT sum(1::BIGINT << (53 - mreg)) AS s_obs,
         count(*) AS n_obs
  FROM regs),
exact AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders)
SELECT 256 AS m,
       CAST(256 - n_obs AS BIGINT) AS zero_registers,
       CAST(s_obs + (256 - n_obs) * (1::BIGINT << 53) AS BIGINT) AS hll_sum,
       n_exact,
       0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
         / CAST(s_obs + (256 - n_obs) * (1::BIGINT << 53) AS DOUBLE) AS est,
       (0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
         / CAST(s_obs + (256 - n_obs) * (1::BIGINT << 53) AS DOUBLE)
        - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
FROM folded CROSS JOIN exact
"""


def q_funnel(spark, sf_dir):
    """Sequential-pattern funnel: per user the furthest stage reached in
    view -> click -> purchase (each strictly after, and within 24 hours
    of, the previous match), then users-per-stage. One shuffle: the state machine runs as an
    aggregate HOF over each user's ts-sorted events, not as per-step
    self-joins (operators/aggregates.py:funnel_stages)."""
    ev = _t(spark, sf_dir, "events")
    stages = agg_ops.funnel_stages(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"],
        within_minutes=1440,
    )
    return stages.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL 1440 MINUTE GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL 1440 MINUTE GROUP BY e.user_id),
u AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
st AS (
  SELECT u.user_id,
         CASE WHEN p.user_id IS NOT NULL THEN 3
              WHEN c.user_id IS NOT NULL THEN 2
              WHEN v.user_id IS NOT NULL THEN 1
              ELSE 0 END AS stage
  FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
         LEFT JOIN p USING (user_id))
SELECT stage, count(*) AS n_users FROM st GROUP BY stage
"""


def q_salted_counts(spark, sf_dir):
    """Skew-safe counting: salted two-stage aggregation — answer identical
    to q_count_events, exchange topology skew-proof (operators/skew.py)."""
    from npm_mirror_spark.operators.skew import salted_count_by

    return salted_count_by(_t(spark, sf_dir, "events"), "event_type")


_SALTED_COUNTS_SQL = "SELECT event_type, count(*) AS n FROM events GROUP BY 1"


def q_weighted_median(spark, sf_dir):
    """Mass-weighted median per source
    (operators/aggregates.py:weighted_percentile_by): the doc length at
    which half of each source's CHARACTERS live — the corpus-report
    statistic the unweighted median (q_group_percentiles) cannot
    answer. Division-free: the threshold is the cross-multiplied
    integer test cum_w*2 >= total_w; one (source, value) weight-sum
    shuffle then the two-level bucketed prefix sum (every window
    bounded by the __bkt range-bucket key — plan-pinned in
    tests/test_plans.py), so a high-cardinality value axis never lands
    one group on one reducer."""
    from npm_mirror_spark.operators.aggregates import weighted_percentile_by

    d = _t(spark, sf_dir, "documents")
    return weighted_percentile_by(
        d, ["source"], "n_chars", "n_chars", p_num=1, p_den=2
    ).orderBy("source")


# q_weighted_median: distinct-value weight sums, per-group running and
# total weights, the cross-multiplied integer threshold, min qualifying
# value — division never occurs.
_WEIGHTED_MEDIAN_SQL = """
WITH g AS (
  SELECT source, n_chars, sum(CAST(n_chars AS BIGINT)) AS w
  FROM documents GROUP BY source, n_chars),
cum AS (
  SELECT source, n_chars,
         sum(w) OVER (PARTITION BY source ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY source) AS tw
  FROM g)
SELECT source, min(n_chars) AS p_value,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM cum WHERE cw * 2 >= 1 * tw
GROUP BY source
ORDER BY source
"""


def q_hll_weekly(spark, sf_dir):
    """Cumulative distinct-users curve by week
    (operators/sketches.py:hll_cumulative_by): one md5 pass over
    events yields per-week HLL registers; the cell-wise running max
    along the week axis produces EVERY prefix sketch at once, so
    "distinct users through week w" costs one shuffle total instead of
    one count_distinct per week — the approximate retention curve at
    100 TB.  n_exact (cumulative first-seen counts — one per-user min
    + a tiny week-axis running sum) rides along to price the sketch's
    error; est replays bit-for-bit (integer registers, one IEEE
    division per week)."""
    from npm_mirror_spark.operators.sketches import hll_cumulative_by

    ev = _t(spark, sf_dir, "events").select(
        F.floor(F.unix_timestamp("ts") / F.lit(604800))
        .cast("long")
        .alias("week"),
        "user_id",
    )
    est = hll_cumulative_by(ev, "week", "user_id", p=8)
    first = ev.groupBy("user_id").agg(F.min("week").alias("week"))
    per_week = first.groupBy("week").agg(F.count(F.lit(1)).alias("__new"))
    wk = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the week axis is bounded (one row per week), so the single-
    # partition running sum is the q_vocab_growth tiny-axis contract
    exact = per_week.select(
        "week", F.sum("__new").over(wk).cast("long").alias("n_exact")
    )
    return est.join(exact, "week").select(
        "week", "zero_registers", "hll_sum", "n_exact", "est"
    ).orderBy("week")


# q_hll_weekly: the register prefix replay — per-week registers, dense
# week x idx frame, running max along the week axis, per-week harmonic
# fold with the q_hll_replay estimator constants, cumulative first-seen
# exact counts alongside.
_HLL_WEEKLY_SQL = """
WITH ev AS (
  SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week, user_id
  FROM events),
h AS (
  SELECT week,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM ev),
k AS (SELECT week, CAST(h % 256 AS INTEGER) AS idx, h // 256 AS w FROM h),
regs AS (
  SELECT week, idx,
         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mreg
  FROM k GROUP BY 1, 2),
axis AS (SELECT DISTINCT week FROM regs),
dense AS (
  SELECT axis.week, g.i AS idx
  FROM axis CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) g),
cum AS (
  SELECT d.week, d.idx,
         max(r.mreg) OVER (PARTITION BY d.idx ORDER BY d.week
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mreg
  FROM dense d LEFT JOIN regs r ON r.week = d.week AND r.idx = d.idx),
per AS (
  SELECT week,
         sum(1::BIGINT << (53 - mreg)) AS s_obs,
         count(mreg) AS n_obs
  FROM cum WHERE mreg IS NOT NULL GROUP BY 1),
first_seen AS (SELECT user_id, min(week) AS week FROM ev GROUP BY 1),
newc AS (SELECT week, count(*) AS n_new FROM first_seen GROUP BY 1),
exact AS (
  SELECT week,
         CAST(sum(n_new) OVER (ORDER BY week
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_exact
  FROM newc)
SELECT p.week,
       CAST(256 - p.n_obs AS BIGINT) AS zero_registers,
       CAST(p.s_obs + (256 - p.n_obs) * (1::BIGINT << 53) AS BIGINT)
         AS hll_sum,
       e.n_exact,
       0.7213 / (1.0 + 1.079 / 256.0) * 590295810358705651712.0
         / CAST(p.s_obs + (256 - p.n_obs) * (1::BIGINT << 53) AS DOUBLE)
         AS est
FROM per p JOIN exact e USING (week)
ORDER BY p.week
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct sketch over event users
    (operators/sketches.py:kmv_sketch): the k smallest distinct md5
    hashes give a cardinality estimate AND a uniform sample of the
    distinct users — the drill-down HLL registers can't answer.
    Priced honestly: one distinct shuffle on 8-byte hashes (vs HLL's
    map-side registers); bottom-k via TakeOrderedAndProject, never a
    full sort.  n_exact rides along; literal-constant estimator, one
    IEEE division, bit-for-bit replay."""
    from npm_mirror_spark.operators.sketches import kmv_sketch

    ev = _t(spark, sf_dir, "events")
    est = kmv_sketch(ev, "user_id", k=64)
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact))


# q_kmv_distinct: bottom-k of distinct md5 hashes, literal-constant
# estimator, one division; under-full branch returns the exact count.
_KMV_DISTINCT_SQL = """
WITH h AS (
  SELECT DISTINCT
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
b AS (SELECT h FROM h ORDER BY h LIMIT 64),
k AS (SELECT count(*) AS n_obs, max(h) AS kth_hash FROM b),
e AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
SELECT 64 AS k, n_obs, kth_hash,
       CASE WHEN n_obs < 64 THEN CAST(n_obs AS DOUBLE)
            ELSE 63.0 * 1152921504606846976.0
                 / CAST(greatest(kth_hash, 1) AS DOUBLE)
       END AS est,
       n_exact
FROM k CROSS JOIN e
"""


def q_skyline(spark, sf_dir):
    """Skyline / Pareto frontier (operators/skyline.py:skyline2d):
    parts not dominated on (price low, size high) — the multi-criteria
    shortlist operator (Börzsönyi et al., ICDE'01).  The sort-based
    reduction runs as a distinct-price collapse + the bounded two-level
    prefix MAX (no window over the full distinct-price axis on one
    reducer) + one equi-join back; the brute-force NOT EXISTS form from
    the paper is the independent cross-check in tests/test_skyline.py."""
    from npm_mirror_spark.operators.skyline import skyline2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline2d(p, "p_retailprice", "p_size").orderBy("p_partkey")


# q_skyline: the sort-based prefix-max reduction restated in SQL (the
# independent brute-force NOT EXISTS form is tests/test_skyline.py).
_SKYLINE_SQL = """
WITH m AS (
  SELECT p_retailprice AS pr, max(p_size) AS meq
  FROM part GROUP BY 1),
pm AS (
  SELECT pr, meq,
         max(meq) OVER (ORDER BY pr
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt
  FROM m)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN pm ON pm.pr = p.p_retailprice
WHERE NOT (coalesce(pm.mlt >= p.p_size, FALSE) OR pm.meq > p.p_size)
ORDER BY p.p_partkey
"""


def q_hh_twopass(spark, sf_dir):
    """Exact heavy hitters by CMS-prune + exact verify (operators/
    sketches.py:heavy_hitters_twopass): parts ordered on >= 35 line
    items.  The sketch pass suppresses the long tail BEFORE the exact
    aggregation (one-sided CMS error makes the candidate set a superset,
    so the verified output EQUALS the plain HAVING count >= t answer —
    which is exactly the oracle).  The two-pass shape is what survives
    1e9-key skew at 100 TB: pass 2 aggregates only candidate-key rows
    behind a broadcast semi-join."""
    from npm_mirror_spark.operators.sketches import heavy_hitters_twopass

    li = _t(spark, sf_dir, "lineitem")
    return heavy_hitters_twopass(li, "l_partkey", threshold=35)


# q_hh_twopass: the sketch only PRUNES (one-sided CMS error -> candidate
# superset), so the exact-verified output equals the plain HAVING answer.
_HH_TWOPASS_SQL = """
SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY 1 HAVING count(*) >= 35
"""
