"""Faces built on the DataFrame API and the relational operators
(``projections``, ``filters``, ``joins``): the reference-parity core, the
SQL-surface shapes and the TPC-style queries, each next to its DuckDB
oracle."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from npm_mirror_spark.faces import banded_pairs, dec_sum, line_recency, nodec
from npm_mirror_spark.operators import aggregates as agg_ops
from npm_mirror_spark.operators import joins as join_ops
from npm_mirror_spark.operators import projections as proj
from npm_mirror_spark.tables import load_table as _t


_CENTROID_SCALE = float(1 << 24)  # binary scaling: power-of-two multiply is
# exact on doubles and floor has no rounding ties — unlike a decimal cast,
# where dyadic floats landing exactly on .5 decimal boundaries round
# differently across engines (Spark HALF_UP vs DuckDB HALF_EVEN).


# Benford first-digit probabilities log10(1+1/d) TRUNCATED to 6
# decimals and shared VERBATIM with the oracle SQL: short decimals
# convert decimal->double with a SINGLE rounding in both engines,
# where full-precision literals double-round through DuckDB's DECIMAL
# parse (the r7 q_trend_by_group lesson, literal edition).  The ~1e-6
# probability error is noise for an audit thresholded at 0.05.
_BENFORD_P = [
    0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
    0.066947, 0.057992, 0.051153, 0.045757,
]


def q_scan_project(spark, sf_dir):
    """P10/S4: key-subset projection (organize-NAS.py:56) — column pruning
    reaches the parquet scan (ReadSchema shows only 3 columns)."""
    return _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")


_SCAN_PROJECT_SQL = "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"


def q_json_decode(spark, sf_dir):
    """S3: json.loads-per-line (changes_consumer.py:391) as from_json."""
    ev = _t(spark, sf_dir, "events")
    decoded = proj.json_decode(ev, "props", "k INT")
    return decoded.select("event_id", F.col("decoded.k").alias("prop_k"))


_JSON_DECODE_SQL = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k "
    "FROM events"
)


def q_regex_clean(spark, sf_dir):
    """P6: special-char scrub (changes_consumer.py:89-92)."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_custkey", proj.scrub_special_chars("c_name").alias("clean_name"))


_REGEX_CLEAN_SQL = (
    "SELECT c_custkey, regexp_replace(c_name, '[^a-zA-Z0-9/]', '', 'g') AS clean_name "
    "FROM customer"
)


def q_split_last(spark, sf_dir):
    """P5: scoped-name tail split (changes_consumer.py:345-349)."""
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", proj.split_last("p_name", " ").alias("last_token"))


_SPLIT_LAST_SQL = "SELECT p_partkey, (str_split(p_name, ' '))[-1] AS last_token FROM part"


def q_prefix_bucket(spark, sf_dir):
    """P7/P11/A8: 3-char prefix-hash bucket (changes_consumer.py:102-107)
    surfaced as a groupBy count — the oracle-checkable face of the layout."""
    p = _t(spark, sf_dir, "part")
    return agg_ops.count_by(
        p.select(proj.prefix_bucket("p_name").alias("bucket")), "bucket"
    )


_PREFIX_BUCKET_SQL = (
    "SELECT upper(substring(p_name, 1, 3)) AS bucket, count(*) AS n "
    "FROM part GROUP BY 1"
)


def q_ts_parse(spark, sf_dir):
    """P9: ISO-microsecond filename timestamps (organize-NAS.py:24):
    format -> reparse round trip."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        proj.ts_to_iso("ts").alias("ts_iso"),
        proj.iso_to_ts(proj.ts_to_iso("ts")).alias("ts_rt"),
    )


_TS_PARSE_SQL = (
    "SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_iso, "
    "strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'), '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_rt "
    "FROM events"
)


def q_normalize(spark, sf_dir):
    """P12 metadata normalize (normalize-registry-metadata's observable
    effect, producer.ts:145), oracle-checked on deterministically degraded
    docs built from customer: name/_id/dist-tags dropped or case-mangled by
    key modulus, then operators/projections.py:normalize_metadata restores
    the canonical form. Output is flattened so the DuckDB oracle states the
    same rules as plain CASE/coalesce/lower/greatest expressions."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    parsed = c.select(
        k.cast("long").alias("seq"),
        F.when(k % 11 != 0, F.col("c_name")).alias("id"),
        F.struct(
            F.when(k % 5 != 0, F.col("c_name")).alias("_id"),
            F.when(k % 3 != 0, F.upper(F.col("c_name"))).alias("name"),
            F.when(k % 2 != 0, F.create_map(F.lit("latest"), F.lit("2.0.0")))
            .when(k % 4 == 0, F.create_map(F.lit("beta"), F.lit("9.9.9")))
            .alias("dist_tags"),
            F.create_map(
                (k % 13).cast("string"), F.lit("a"), F.lit("3a"), F.lit("b")
            ).alias("versions"),
        ).alias("doc"),
    )
    out = proj.normalize_metadata(parsed)
    return out.select(
        "seq",
        F.col("id").alias("norm_id"),
        F.col("doc._id").alias("norm_doc_id"),
        F.col("doc.name").alias("norm_name"),
        F.element_at(F.col("doc.dist_tags"), F.lit("latest")).alias("latest_tag"),
        F.size(F.col("doc.dist_tags")).alias("n_tags"),
    )


_NORMALIZE_SQL = """
WITH raw AS (
  SELECT CAST(c_custkey AS BIGINT) AS seq, c_name,
         CASE WHEN c_custkey % 5 <> 0 THEN c_name END AS rid,
         CASE WHEN c_custkey % 3 <> 0 THEN upper(c_name) END AS rname
  FROM customer),
n AS (
  SELECT seq, c_name, lower(trim(coalesce(rname, rid))) AS canon FROM raw)
SELECT seq,
       CASE WHEN seq % 11 <> 0 THEN c_name ELSE canon END AS norm_id,
       canon AS norm_doc_id,
       canon AS norm_name,
       CASE WHEN seq % 2 <> 0 THEN '2.0.0'
            ELSE greatest(CAST(seq % 13 AS VARCHAR), '3a') END AS latest_tag,
       CASE WHEN seq % 2 <> 0 THEN 1 WHEN seq % 4 = 0 THEN 2 ELSE 1 END AS n_tags
FROM n
"""


def q_filter_notnull(spark, sf_dir):
    """F1/F5: null-doc skip (changes_consumer.py:129-130)."""
    ev = _t(spark, sf_dir, "events")
    from npm_mirror_spark.operators.filters import filter_not_null

    return filter_not_null(ev, "props", "value").select("event_id", "event_type", "value")


_FILTER_NOTNULL_SQL = (
    "SELECT event_id, event_type, value FROM events "
    "WHERE props IS NOT NULL AND value IS NOT NULL"
)


def q_filter_size(spark, sf_dir):
    """F2/F3/F4: MAX_SIZE threshold (changes_consumer.py:20,149-199) with
    per-flag aggregates; the filter is pushed down to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    from npm_mirror_spark.operators.filters import filter_max_size

    kept = filter_max_size(li, "l_extendedprice", 10_000)
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum("l_quantity", "sum_qty"),
        dec_sum("l_extendedprice", "sum_price"),
    )


_FILTER_SIZE_SQL = (
    "SELECT l_returnflag, count(*) AS n_items, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price "
    "FROM lineitem WHERE l_extendedprice <= 10000 GROUP BY 1"
)


def q_retention_gc(spark, sf_dir):
    """A2 delete-side + F7 eligibility gate (changes_consumer.py:249-254):
    evict rank>5 rows, but only for groups passing the eligibility
    predicate (the reference's |time|-|versions|==2 analog)."""
    li = _t(spark, sf_dir, "lineitem")
    elig = (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.countDistinct("l_orderkey").alias("__d"),
        )
        .filter((F.col("__c") > 5) & ((F.col("__c") - F.col("__d")) <= 2))
        .select("l_partkey")
    )
    gated = join_ops.semi_join(li, elig, "l_partkey")
    dropped = agg_ops.retention_gc(gated, ["l_partkey"], line_recency(), n=5)
    return dropped.select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate")


_RETENTION_GC_SQL = """
WITH elig AS (
  SELECT l_partkey FROM lineitem GROUP BY 1
  HAVING count(*) > 5 AND count(*) - count(DISTINCT l_orderkey) <= 2),
r AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
  FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM elig))
SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate FROM r WHERE rn > 5
"""


def q_anti_join(spark, sf_dir):
    """J1/F10: existence-probe dedup (mirror.ts:114-126) — orders whose
    customer produced no events."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("o_custkey"))
    return join_ops.anti_join(o, ev, "o_custkey", broadcast_inventory=True).select(
        "o_orderkey", "o_custkey"
    )


_ANTI_JOIN_SQL = (
    "SELECT o_orderkey, o_custkey FROM orders o "
    "WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)"
)


def q_enrich_join(spark, sf_dir):
    """J2: per-row enrichment (changes_consumer.py:160-169) as a broadcast
    equi-join against the customer dimension."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return join_ops.enrich_join(
        ev, c, on=[ev.user_id == c.c_custkey], broadcast_dim=True
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value")


_ENRICH_JOIN_SQL = (
    "SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value "
    "FROM events e JOIN customer c ON e.user_id = c.c_custkey"
)


def q_approx_stats(spark, sf_dir):
    """100 TB ops: sketch aggregates (approx_count_distinct, approximate
    percentiles). Approximate by nature -> rows-only driver check."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50_value"),
        F.percentile_approx("value", 0.95).alias("p95_value"),
    )


def q_corpus_diff(spark, sf_dir):
    """Snapshot diffing with set operators: old corpus vs a simulated
    next release (every 17th doc retired, every 13th re-ingested under a
    new id) — EXCEPT ALL in both directions, labeled and unioned; the
    audit a corpus release publishes."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    s2 = d.where(F.col("doc_id") % 17 != 0).unionByName(
        d.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id")
        )
    )
    removed = d.exceptAll(s2).withColumn("change", F.lit("removed"))
    added = s2.exceptAll(d).withColumn("change", F.lit("added"))
    return removed.unionByName(added)


_CORPUS_DIFF_SQL = """
WITH d AS (SELECT doc_id FROM documents),
s2 AS (SELECT doc_id FROM d WHERE doc_id % 17 <> 0
       UNION ALL SELECT doc_id + 300000 FROM d WHERE doc_id % 13 = 0)
SELECT doc_id, 'removed' AS change FROM (SELECT doc_id FROM d EXCEPT ALL SELECT doc_id FROM s2)
UNION ALL
SELECT doc_id, 'added' AS change FROM (SELECT doc_id FROM s2 EXCEPT ALL SELECT doc_id FROM d)
"""


def q_rolling_hour(spark, sf_dir):
    """Rolling (range-frame) window: for every event, how many events its
    user produced in the trailing hour — the physical RANGE frame over
    event-time, distinct from tumbling windows (q_window_counts) and
    row frames (q_running_total). Epoch-seconds ordering makes the frame
    arithmetic integer-exact in both engines."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
    )


_ROLLING_HOUR_SQL = """
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         AS n_trailing_hour
FROM events
"""


def q_profile(spark, sf_dir):
    """Column profiling (the first query anyone runs on a new table):
    null count, distinct count, min/max per column, one row per column —
    computed in a single pass over the scan (all aggregates in one
    projection, then unpivoted), not one job per column."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    per_col = [
        one.select(
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in cols
    ]
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionByName(p)
    return out


_PROFILE_SQL = " UNION ALL ".join(
    f"""
SELECT '{c}' AS "column",
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM orders"""
    for c in ("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
)


def q_large_order_customers(spark, sf_dir):
    """TPC-H Q18 shape (GROUP BY + HAVING on an aggregate): orders whose
    total lineitem quantity exceeds a threshold, joined back to their
    customers. The HAVING filter runs on the aggregated side BEFORE the
    broadcast customer join — the post-agg row count is tiny."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > 150.0)
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


_LARGE_ORDER_CUSTOMERS_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150.0)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, b.total_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): revenue of not-yet-shipped
    lineitems for orders placed before the cutoff by one market segment.
    Plan: the filtered customer keys BROADCAST into the orders join (the
    segment filter makes them the small side), lineitem shuffles once on
    l_orderkey; top-10 with a total-order tiebreak, TakeOrderedAndProject
    keeps the sort partial (no global sort materialization)."""
    cutoff = "1998-06-01"
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    rev = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue")
    )
    return rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


_SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority, revenue FROM (
  SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-06-01'
    AND l.l_shipdate > TIMESTAMP '1998-06-01'
  GROUP BY 1, 2, 3)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): revenue per nation where
    the supplier and the ordering customer share the nation, one region,
    one year. Plan: region/nation/supplier/customer all broadcast (dims),
    the fact tables shuffle once on the orderkey; the nation equality
    between supplier and customer rides as a join predicate, not a second
    shuffle."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue")
    )


_LOCAL_SUPPLIER_VOLUME_SQL = """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_window_funcs(spark, sf_dir):
    """Ranking-function repertoire over one shared shuffle: quartile
    (ntile), percent_rank, cume_dist per event_type ordered by value with
    a total-order tiebreak (both engines compute the same rank-based
    formulas -> bit-identical doubles)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.asc("value"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


_WINDOW_FUNCS_SQL = """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist
FROM events
WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
"""


def q_session_stats(spark, sf_dir):
    """Per-user session stats via Spark's NATIVE session_window aggregation
    — the streaming-capable sessionization operator (the identical groupBy
    runs under readStream + withWatermark; pinned by
    tests/test_watermark.py::test_session_window_streaming_with_watermark).
    Oracle: the lag+cumsum formulation — an independent implementation of
    the same semantics, equivalence also cross-validated in
    tests/test_crossvalidation.py. One shuffle on user_id; the per-user
    rollup reuses the session-window partitioning."""
    ev = _t(spark, sf_dir, "events")
    per_session = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n").alias("max_session_events"),
        F.sum("n").alias("n_events"),
    )


# independent formulation: lag+cumsum session ids (native session_window
# has no SQL equivalent in DuckDB) -> per-session counts -> per-user stats
_SESSION_STATS_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
s AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g),
per AS (SELECT user_id, session_id, count(*) AS n FROM s GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions,
       CAST(max(n) AS BIGINT) AS max_session_events,
       CAST(sum(n) AS BIGINT) AS n_events
FROM per GROUP BY user_id
"""


def q_event_transitions(spark, sf_dir):
    """First-order event-transition matrix: counts of consecutive
    (prev_type -> next_type) pairs within each user's event sequence —
    the Markov-chain summary behind next-action models and funnel
    diagnostics. Order is (ts, event_id) so ties break deterministically.
    One shuffle for the per-user sequence window, one for the |types|^2
    count rollup; only (user_id, type, ts) columns ever move."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events)
SELECT prev_type, next_type, count(*) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


def q_variant_decode(spark, sf_dir):
    """Semi-structured decode via Spark 4's VARIANT type: parse_json once,
    then path access with variant_get — the schema-on-read path for
    evolving event payloads (no fixed struct schema to maintain, unlike
    q_json_decode's from_json). try_variant_get on an absent path yields
    NULL instead of failing, which is the contract a drifting producer
    needs. Pure projection — no shuffle, binary VARIANT never leaves the
    scan stage."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("prop_k"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_prop"),
    )


_VARIANT_DECODE_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k,
       json_extract_string(props, '$.missing') AS missing_prop
FROM events
"""


def q_new_users_daily(spark, sf_dir):
    """Daily active users, new-user arrivals, and cumulative users per
    epoch-day. DAU is a distinct-count per day; arrivals come from the
    per-user min-day aggregate joined back onto the day axis; the
    cumulative window runs over the tiny per-day aggregate (one
    partition of #days rows), not the fact table."""
    u = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("d"),
    )
    dau = u.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    first = u.groupBy("user_id").agg(F.min("d").alias("d"))
    arrivals = first.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    daily = dau.join(arrivals, "d", "left").select(
        "d", "dau", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d",
        "dau",
        "new_users",
        F.sum("new_users").over(w).alias("cume_users"),
    )


_NEW_USERS_DAILY_SQL = """
WITH u AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d FROM events),
dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM u GROUP BY 1),
f AS (SELECT user_id, min(d) AS d FROM u GROUP BY 1),
arr AS (SELECT d, count(*) AS new_users FROM f GROUP BY 1),
daily AS (
  SELECT dau.d, dau.dau, coalesce(arr.new_users, 0) AS new_users
  FROM dau LEFT JOIN arr ON dau.d = arr.d)
SELECT d, dau, new_users,
       CAST(sum(new_users) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume_users
FROM daily
"""


def q_group_percentiles(spark, sf_dir):
    """Per-language exact discrete percentiles (p50/p90 of document
    length) via rank selection: one shuffle+sort per language partition,
    then a conditional argpick — percentile_disc semantics restated so
    both engines pick the identical element (no interpolation floats)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    pick50 = F.col("rn") == F.ceil(F.lit(0.5) * F.col("n"))
    pick90 = F.col("rn") == F.ceil(F.lit(0.9) * F.col("n"))
    return ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.max(F.when(pick50, F.col("n_chars"))).alias("p50_chars"),
        F.max(F.when(pick90, F.col("n_chars"))).alias("p90_chars"),
    )


_GROUP_PERCENTILES_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang, max(n) AS n_docs,
       max(CASE WHEN rn = ceil(0.5 * n) THEN n_chars END) AS p50_chars,
       max(CASE WHEN rn = ceil(0.9 * n) THEN n_chars END) AS p90_chars
FROM ranked GROUP BY 1
"""


def q_event_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence: which event-type pairs happen for
    the same user within the same hour. Each (user, hour) cell is
    reduced to its sorted distinct type set, and the ordered pairs are
    generated IN-ROW with array HOFs — fan-out per cell is bounded by
    (#types choose 2), never quadratic in events, and there is no
    self-join at all: two shuffles (cell agg, pair count), both
    map-side combined."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        "event_type",
    )
    cells = ev.groupBy("user_id", "h").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    # all ordered pairs from the sorted per-cell type set, generated
    # in-row (two shuffles total: the cell agg and the pair count — no
    # self-join at all); the two-arg transform lambda is (element, index)
    pairs = F.flatten(
        F.transform(
            "types",
            lambda x, i: F.transform(
                F.slice("types", i + F.lit(2), F.size("types")),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        cells.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_cells"))
    )


_EVENT_COOCCURRENCE_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, event_type
  FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_cells
FROM ev a JOIN ev b
  ON a.user_id = b.user_id AND a.h = b.h AND a.event_type < b.event_type
GROUP BY 1, 2
"""


def q_extract_mentions(spark, sf_dir):
    """Regex extraction (the engine-keyword miner): per document, all
    matches of a keyword alternation — count and first hit. Pure
    map-side JVM regex (regexp_extract_all), no Python, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    pat = r"\b(scan|join|merge|sort)\b"
    matches = F.regexp_extract_all("text", F.lit(pat), 0)
    return d.select(
        "doc_id",
        F.size(matches).cast("bigint").alias("n_mentions"),
        F.get(matches, 0).alias("first_mention"),
    )


_EXTRACT_MENTIONS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b(scan|join|merge|sort)\b')) AS BIGINT) AS n_mentions,
       CASE WHEN len(regexp_extract_all(text, '\b(scan|join|merge|sort)\b')) > 0
            THEN regexp_extract_all(text, '\b(scan|join|merge|sort)\b')[1] END AS first_mention
FROM documents
"""


def q_corr_moments(spark, sf_dir):
    """Pearson correlation (quantity vs price per returnflag) from EXACT
    integer moments: 2-dp inputs are scaled x100 to integers
    (floor(x*100+0.5) — exact, tie-free), per-row products stay within
    BIGINT, and the five sums accumulate in DECIMAL(38,0) — fully
    order-independent, unlike the built-in corr() float aggregate. The
    final corr formula runs on exact-cast doubles, bit-identical to the
    oracle. One map-side-combined shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    q100 = F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint")
    p100 = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    d38 = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")
    m = li.select(
        "l_returnflag", q100.alias("x"), p100.alias("y")
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        d38(F.col("x")).alias("sx"),
        d38(F.col("y")).alias("sy"),
        d38(F.col("x") * F.col("x")).alias("sxx"),
        d38(F.col("y") * F.col("y")).alias("syy"),
        d38(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("l_returnflag", (num / den).alias("qty_price_corr"))


_CORR_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM s GROUP BY 1)
SELECT l_returnflag,
       (n * sxy - sx * sy)
       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS qty_price_corr
FROM m
"""


def q_sliding_window(spark, sf_dir):
    """Sliding (hopping) event-time windows: 1-hour windows every 15
    minutes, per event type. Each event lands in exactly window/slide = 4
    windows — Spark's native window() expands map-side (a bounded 4x,
    not a join); the oracle restates the expansion arithmetically.
    Window starts are emitted as epoch seconds (integer-exact)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value", "sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").cast("bigint").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_SLIDING_WINDOW_SQL = """
WITH e AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
x AS (
  SELECT event_type, value, es, unnest([0, 1, 2, 3]) AS j FROM e)
SELECT ((es // 900) - j) * 900 AS w_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2
"""


def q_last_touch(spark, sf_dir):
    """Last-touch attribution: for every purchase, the user's most recent
    preceding non-purchase event. A single per-user window with an
    IGNORE NULLS last() over rows [..., -1] — one shuffle shared with any
    other per-user window, no self-join, no fan-out."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch_event_id", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"), "user_id", "touch_event_id"
        )
    )


_LAST_TOUCH_SQL = """
SELECT event_id AS purchase_id, user_id, touch_event_id FROM (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_event_id
  FROM events)
WHERE event_type = 'purchase'
"""


def q_nation_profit(spark, sf_dir):
    """TPC-H Q9 shape (profit rollup): per supplier nation per year,
    revenue minus cost for parts whose name carries a marker token (cost
    proxied by p_retailprice x quantity — this schema has no partsupp).
    Part and supplier-nation dims broadcast; the one fact-fact shuffle is
    the orderkey join; profit terms stay in DECIMAL until the final cast."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey", "p_retailprice")
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        - (F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


_NATION_PROFIT_SQL = """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))
                - CAST(p.p_retailprice * l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
       AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""


def q_revenue_share(spark, sf_dir):
    """Percent-of-total window: each customer nation's revenue and its
    share of the grand total. The share window runs over the 25-row
    aggregate (a deliberate SinglePartition over dimension-sized data),
    never the fact table; both sums are exact DECIMAL so the ratio is
    deterministic."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders")
    per_nation = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(w).cast("double")
        ).alias("rev_share"),
    )


_REVENUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT n.n_name, sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1)
SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE) AS rev_share
FROM per_nation
"""


def q_order_size_dist(spark, sf_dir):
    """Two-level aggregation (distribution of group sizes): how many
    orders have k lineitems, for each k. The classic shuffle-then-tiny-
    shuffle shape — the second aggregate runs over one row per order,
    already a reduction of the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return sizes.groupBy("n_items").agg(F.count(F.lit(1)).alias("n_orders"))


_ORDER_SIZE_DIST_SQL = """
SELECT n_items, count(*) AS n_orders FROM (
  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
GROUP BY 1
"""


def q_top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 shape (argmax over an aggregate): the supplier(s) whose
    one-quarter revenue equals the maximum. The per-supplier aggregate is
    one shuffle; the max is a broadcast 1-row join back (no window, no
    second pass over lineitem); supplier names broadcast on at the end.
    Exact DECIMAL revenue makes the max comparison tie-exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.max_rev)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
    )


_TOP_SUPPLIER_REVENUE_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
"""


def q_overstock_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (nested semi-join chain): suppliers of red parts
    who shipped more than 40 units of some red part — candidates for
    excess stock. Red parts broadcast into the bridge aggregate; the
    qualifying (supp, part) pairs collapse to a distinct supplier set
    that semi-joins supplier. Two shuffles: the bridge agg and the
    distinct; supplier itself never shuffles."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name", "s_nationkey"
    )


_OVERSTOCK_SUPPLIERS_SQL = """
SELECT s_suppkey, s_name, s_nationkey FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 40)
"""


def q_customer_order_dist(spark, sf_dir):
    """TPC-H Q13 shape (left-join count distribution): how many customers
    placed k orders, INCLUDING the zero-order bucket the inner join would
    drop. One orders-side aggregate first (so the left join is
    customer x per-customer-count, not customer x orders), then the tiny
    second-level distribution aggregate."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    counts = c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )
    return counts.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_custs"))


_CUSTOMER_ORDER_DIST_SQL = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT coalesce(p.n_orders, 0) AS n_orders, count(*) AS n_custs
FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY 1
"""


def q_valuable_parts(spark, sf_dir):
    """TPC-H Q11 shape (HAVING against a scalar-subquery threshold):
    parts whose shipped value exceeds a fixed fraction of total shipped
    value (partsupp stands in as the lineitem bridge) — here, 1.5x the
    mean per-part value, which keeps selectivity scale-invariant. Both
    the per-part aggregate and the 1-row total reduce before anything
    joins; the threshold comparison cross-multiplies exact DECIMALs and
    integers (no division) so the cut is tie-exact in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("part_value")
    per_part = li.groupBy("l_partkey").agg(val)
    total = per_part.agg(
        F.sum("part_value").cast("decimal(38,4)").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    # part_value > 1.5 * mean  <=>  part_value * n_parts * 2 > total_value * 3
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("part_value") * F.col("n_parts") * 2 > F.col("total_value") * 3
        )
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


_VALUABLE_PARTS_SQL = """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS part_value
  FROM lineitem GROUP BY 1),
total AS (SELECT CAST(sum(part_value) AS DECIMAL(38,4)) AS total_value,
                 count(*) AS n_parts FROM per_part)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM per_part, total
WHERE part_value * n_parts * 2 > total_value * 3
"""


def q_waiting_orders(spark, sf_dir):
    """TPC-H Q21 shape (correlated EXISTS + NOT EXISTS, decorrelated):
    suppliers who were the SOLE late shipper on a multi-supplier order
    (late = shipped >60 days after the order date). The exists/not-exists
    pair decorrelates to per-order supplier counts over one (order,
    supplier) aggregate; a single orderkey fact shuffle feeds that
    aggregate AND both order-level windows, and the final per-supplier
    count is a 20-row TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # one explicit orderkey partition serves the whole chain: clustering
    # on l_orderkey satisfies the (orderkey, suppkey) aggregate AND both
    # order-level windows — without it the agg hashes on the composite
    # key and the window re-shuffles the fact rows a second time
    per_os = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("was_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "was_late",
        F.count(F.lit(1)).over(w).alias("n_supps"),
        F.sum("was_late").over(w).alias("n_late"),
    )
    culprit = flagged.filter(
        (F.col("was_late") == 1) & (F.col("n_supps") > 1) & (F.col("n_late") == 1)
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    counted = (
        culprit.join(F.broadcast(s), culprit.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return counted.orderBy(F.desc("numwait"), F.asc("s_suppkey")).limit(20)


_WAITING_ORDERS_SQL = """
WITH per_os AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS was_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
flagged AS (
  SELECT l_orderkey, l_suppkey, was_late,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supps,
         CAST(sum(was_late) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_late
  FROM per_os)
SELECT s.s_suppkey, s.s_name, count(*) AS numwait
FROM flagged f JOIN supplier s ON f.l_suppkey = s.s_suppkey
WHERE f.was_late = 1 AND f.n_supps > 1 AND f.n_late = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s.s_suppkey ASC
LIMIT 20
"""


def q_order_gap_stats(spark, sf_dir):
    """Inter-arrival statistics: per customer, the median gap in days
    between consecutive orders. The lag pass and the rank-selection
    median share one o_custkey partitioning (one shuffle, two in-
    partition sorts); gaps are integer epoch-day differences so the
    median pick is exact."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("d") - F.lag("d").over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    wg = Window.partitionBy("o_custkey").orderBy("gap", "o_orderkey")
    wn = Window.partitionBy("o_custkey")
    ranked = gaps.select(
        "o_custkey",
        "gap",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n"))).select(
        "o_custkey", F.col("n").alias("n_gaps"), F.col("gap").alias("median_gap_days")
    )


_ORDER_GAP_STATS_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d
  FROM orders),
gaps AS (
  SELECT o_custkey, o_orderkey,
         d - lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS gap
  FROM o),
g AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
ranked AS (
  SELECT o_custkey, gap,
         row_number() OVER (PARTITION BY o_custkey ORDER BY gap, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM g)
SELECT o_custkey, n AS n_gaps, gap AS median_gap_days
FROM ranked WHERE rn = ceil(0.5 * n)
"""


def q_user_event_history(spark, sf_dir):
    """Array aggregation: each user's full event history collapsed to one
    sorted, comma-joined string of 'epoch|type' entries — the
    collect-and-carry shape (feature vectors, session replays) with a
    deterministic element order both engines reproduce. String-rendered
    (not array<string>) so the driver's pandas canonicalizer can hash it."""
    ev = _t(spark, sf_dir, "events")
    item = F.concat(
        F.unix_timestamp("ts").cast("string"), F.lit("|"), F.col("event_type")
    )
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_list(item)), ",").alias("history"),
        F.count(F.lit(1)).alias("n_events"),
    )


_USER_EVENT_HISTORY_SQL = """
SELECT user_id,
       array_to_string(
         list_sort(list(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR)
                        || '|' || event_type)), ',') AS history,
       count(*) AS n_events
FROM events GROUP BY user_id
"""


def q_sessionize(spark, sf_dir):
    """Sessionization — THE event-pipeline operator: a new session starts
    after a >30-minute gap per user; session ids via a cumulative sum over
    the gap indicator. One shuffle on user_id; both windows share it."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # microsecond arithmetic: a cast to long truncates to seconds and
    # misclassifies gaps within one second of the threshold
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_session).over(cum).alias("session_id"),
    )


_SESSIONIZE_SQL = """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
SELECT event_id, user_id,
       -- DuckDB's windowed SUM(INT) yields HUGEINT, which arrow/pandas
       -- coerces to float64 and breaks the driver's value hash vs Spark's
       -- BIGINT even when values are identical; the cast pins the type.
       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
"""


def q_gap_fill(spark, sf_dir):
    """Time-series gap filling: dense per-event-type hourly counts with
    zeros for silent hours. The dense hour axis is generated with
    sequence()+explode from a broadcast 1-row bounds aggregate — the
    grid is dims x hours, never a per-row expansion of the fact table,
    and the count side arrives pre-aggregated so the left join is
    grid-sized. Hours are epoch-hour integers (exact in both engines)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    )
    counts = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    grid = (
        ev.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type", F.explode(F.sequence("hmin", "hmax")).alias("h")
        )
    )
    return grid.join(counts, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n_events")
    )


_GAP_FILL_SQL = """
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events),
b AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
grid AS (
  SELECT t.event_type, unnest(generate_series(b.hmin, b.hmax)) AS h
  FROM (SELECT DISTINCT event_type FROM ev) t, b),
c AS (SELECT event_type, h, count(*) AS n FROM ev GROUP BY 1, 2)
SELECT g.event_type, g.h, coalesce(c.n, 0) AS n_events
FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users bucketed by first-seen week
    (fixed 604800-second epoch weeks, not calendar weeks — integer-exact
    in both engines), counted per (cohort week, weeks-since-cohort).
    Two shuffles: the per-user min, then the distinct-count on the
    cohort cell; the first-seen table joins back on the same user key."""
    u = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("bigint").alias("w"),
    )
    first = u.groupBy("user_id").agg(F.min("w").alias("cohort_w"))
    return (
        u.join(first, "user_id")
        .groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_COHORT_RETENTION_SQL = """
WITH u AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w FROM events),
f AS (SELECT user_id, min(w) AS cohort_w FROM u GROUP BY 1)
SELECT f.cohort_w, u.w - f.cohort_w AS week_offset,
       count(DISTINCT u.user_id) AS n_users
FROM u JOIN f ON u.user_id = f.user_id
GROUP BY 1, 2
"""


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (pure scan-side aggregate): potential revenue from
    discount changes — one filtered sum, zero joins, every predicate
    pushed to the parquet scan, fully map-side until the single-row
    final combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_FORECAST_REVENUE_SQL = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def q_best_supplier(spark, sf_dir):
    """TPC-H Q2 shape (correlated argmin decorrelated): for every part,
    the richest supplier that has actually shipped it (ties to the
    smallest suppkey). The lineitem bridge is DISTINCT-ed before the
    supplier attributes broadcast on, and the per-part argmax is a
    max(struct) partial aggregate — map-side combined, no window sort,
    one shuffle on the part key."""
    bridge = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    best = (
        bridge.join(F.broadcast(s), bridge.l_suppkey == s.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.max(F.struct(F.col("s_acctbal"), (-F.col("s_suppkey")).alias("neg"))).alias("b"))
    )
    return best.select(
        "partkey",
        (-F.col("b.neg")).alias("best_suppkey"),
        F.col("b.s_acctbal").alias("best_acctbal"),
    )


_BEST_SUPPLIER_SQL = """
WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
  SELECT b.l_partkey AS partkey, s.s_suppkey, s.s_acctbal,
         row_number() OVER (PARTITION BY b.l_partkey
                            ORDER BY s.s_acctbal DESC, s.s_suppkey ASC) AS rn
  FROM bridge b JOIN supplier s ON b.l_suppkey = s.s_suppkey)
SELECT partkey, s_suppkey AS best_suppkey, s_acctbal AS best_acctbal
FROM ranked WHERE rn = 1
"""


def q_edit_distance(spark, sf_dir):
    """Levenshtein verification over blocked candidate pairs (same lang,
    id within 20) — the character-level twin of q_ngram_jaccard's
    token-level verify; both engines evaluate the same built-in exactly.
    Emitted as (pair, distance, within-10%-of-longer-doc flag). The pair
    join is equi-keyed on (id-band, lang) via banded_pairs — not
    lang-only — so the shuffle stays skew-free at scale."""
    d = _t(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("__ta"),
        F.col("lang").alias("__la"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("__tb"),
        F.col("lang").alias("__lb"),
    )
    pairs = banded_pairs(a, b, extra_keys=[("__la", "__lb")])
    dist = F.levenshtein("__ta", "__tb")
    longer = F.greatest(F.length("__ta"), F.length("__tb"))
    return pairs.select(
        "id_a",
        "id_b",
        dist.alias("edit_dist"),
        (dist * 10 <= longer).alias("near_dup"),
    )


_EDIT_DISTANCE_SQL = """
-- mirrors the Spark _banded_pairs equi-key: side a emitted in its own
-- band and the neighbor band, then equi-joined on (band, lang)
WITH a2 AS (
  SELECT doc_id, text, lang, (doc_id // 20) AS band FROM documents
  UNION ALL
  SELECT doc_id, text, lang, (doc_id // 20) + 1 AS band FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist,
       levenshtein(a.text, b.text) * 10
         <= greatest(length(a.text), length(b.text)) AS near_dup
FROM a2 a JOIN documents b
  ON a.band = (b.doc_id // 20) AND a.lang = b.lang
 AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 20
"""


def q_blob_stats(spark, sf_dir):
    """Multimodal plumbing with an oracle-checked face: document text
    re-encoded as a real BINARY content column (the same shape image/audio
    bytes take in operators/multimodal.py), then JVM-side blob ops — byte
    length, sha-256 digest, digest-prefix shard (the artifact-store
    partition key). The binary column path is value-verified here; the
    codecs behind it (PNG, baseline JPEG, Y4M video, WAV/RIFF, RAW1,
    PCM16 — all real, pure stdlib+numpy) are pinned in
    tests/test_multimodal.py."""
    d = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    digest = F.sha2(blob, 256)
    return d.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        digest.alias("digest"),
        F.upper(F.substring(digest, 1, 2)).alias("shard"),
    )


# DuckDB's sha256(VARCHAR) hashes the string's UTF-8 bytes — exactly
# Spark's sha2(encode(text,'UTF-8')); octet_length via BLOB cast
_BLOB_STATS_SQL = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
       sha256(text) AS digest,
       upper(substring(sha256(text), 1, 2)) AS shard
FROM documents
"""


def q_hash_sample(spark, sf_dir):
    """Deterministic ~10% corpus sample: keep rows whose md5(key) prefix
    falls under a fixed hex threshold. Unlike rand()-based sampling this
    is reproducible across engines, scans, and retries — the property a
    100 TB pipeline needs for resumable sampling — and it is a pure
    map-side filter (no shuffle, pushdown-friendly)."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "1999"
    ).select("doc_id", "lang", "n_chars")


_HASH_SAMPLE_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
"""


def q_zscore_outliers(spark, sf_dir):
    """Per-group z-score outliers: events more than 2 standard deviations
    from their event type's mean. Mean/variance derive from EXACT decimal
    moments (sum, sum-of-squares — 2-dp inputs make the 4-dp squares
    exact), so the doubles are bit-identical to the oracle and
    order-independent; the built-in stddev agg would be neither. The
    5-row stats table broadcasts back onto the stream."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,8)"))
        .cast("double")
        .alias("s2"),
    )
    stats = stats.select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))).alias("sd"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2)
    )


_ZSCORE_OUTLIERS_SQL = """
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
m AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS s2
  FROM ev GROUP BY 1),
s AS (
  SELECT event_type, s1 / n AS mean,
         sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd
  FROM m)
SELECT ev.event_id, ev.event_type, ev.value,
       (ev.value - s.mean) / s.sd AS z
FROM ev JOIN s ON ev.event_type = s.event_type
WHERE abs((ev.value - s.mean) / s.sd) > 2
"""


def q_mad(spark, sf_dir):
    """Robust statistics: per-event-type median and median absolute
    deviation, both as exact rank selections (no interpolation, no libm).
    Two windowed passes over the same event_type partitioning plus a
    broadcast of the 5-row median table — deviations are IEEE-identical
    doubles in both engines, so the second rank selection picks the same
    element."""
    # pinned 3-column projection before the repartition: both passes
    # shuffle only (event_id, event_type, value) — MAD is inherently
    # two-pass (the second sort key depends on the first pass's median),
    # so the floor is two pruned shuffles, and this is that floor
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
        .repartition("event_type")
    )
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n"))).select(
        "event_type", F.col("value").alias("median_value")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "median_value",
        F.abs(F.col("value") - F.col("median_value")).alias("dev"),
        "event_id",
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    ranked2 = dev.select(
        "event_type",
        "median_value",
        "dev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked2.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n"))).select(
        "event_type", "median_value", F.col("dev").alias("mad")
    )


_MAD_SQL = """
WITH ev AS (SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL),
r1 AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev),
med AS (
  SELECT event_type, value AS median_value FROM r1 WHERE rn = ceil(0.5 * n)),
dev AS (
  SELECT ev.event_type, med.median_value,
         abs(ev.value - med.median_value) AS dev, ev.event_id
  FROM ev JOIN med ON ev.event_type = med.event_type),
r2 AS (
  SELECT event_type, median_value, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev)
SELECT event_type, median_value, dev AS mad FROM r2 WHERE rn = ceil(0.5 * n)
"""


def q_weekly_growth(spark, sf_dir):
    """Week-over-week growth: distinct purchasers per epoch-week and the
    relative change vs the prior week. The lag window runs over the
    #weeks-row aggregate, not the fact table; the growth ratio divides
    two exact integers so the double is deterministic."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    weekly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 604800).cast("bigint").alias("w")
    ).agg(F.countDistinct("user_id").alias("buyers"))
    lagged = F.lag("buyers").over(Window.orderBy("w"))
    return weekly.select(
        "w",
        "buyers",
        (
            (F.col("buyers") - lagged).cast("double") / lagged.cast("double")
        ).alias("wow_growth"),
    )


_WEEKLY_GROWTH_SQL = """
WITH weekly AS (
  SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w,
         count(DISTINCT user_id) AS buyers
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT w, buyers,
       CAST(buyers - lag(buyers) OVER (ORDER BY w) AS DOUBLE)
       / CAST(lag(buyers) OVER (ORDER BY w) AS DOUBLE) AS wow_growth
FROM weekly
"""


def q_exact_percentiles(spark, sf_dir):
    """Exact (sort-based) percentiles per group — the precise counterpart
    of q_approx_stats' sketches. Both engines use type-7 linear
    interpolation, so values are bit-identical."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50_value"),
        F.expr("percentile(value, 0.9)").alias("p90_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


_EXACT_PERCENTILES_SQL = (
    "SELECT event_type, quantile_cont(value, 0.5) AS p50_value, "
    "quantile_cont(value, 0.9) AS p90_value, "
    "min(value) AS min_value, max(value) AS max_value "
    "FROM events GROUP BY 1"
)


def q_top_events_page(spark, sf_dir):
    """Sorted pagination (ORDER BY + OFFSET + LIMIT, page 2 of 10): the
    API-result shape. Total order via the (value, event_id) tiebreak;
    Spark executes offset+limit as a single partial top-(offset+limit)
    without a global sort materialization."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "value")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .offset(10)
        .limit(10)
    )


_TOP_EVENTS_PAGE_SQL = """
SELECT event_id, user_id, value FROM events
ORDER BY value DESC, event_id ASC
LIMIT 10 OFFSET 10
"""


def q_mode_per_user(spark, sf_dir):
    """Deterministic mode per group: each user's most frequent event type
    (ties -> lexicographically smallest type). Built-in mode() breaks
    ties arbitrarily, so this is count + max(struct) argmax — two hash
    aggregates, no window sort, engine-portable tiebreak."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # min over (-n, type): highest count first, then smallest type —
    # strings can't be negated, so the count carries the sign flip
    best = (
        counts.withColumn("__neg_n", -F.col("n"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    F.col("__neg_n"), F.col("event_type").alias("et")
                )
            ).alias("__m")
        )
    )
    return best.select(
        "user_id",
        F.col("__m")["et"].alias("top_event_type"),
        (-F.col("__m")["__neg_n"]).alias("n"),
    )


_MODE_PER_USER_SQL = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type)
SELECT user_id, event_type AS top_event_type, n FROM (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
           ORDER BY n DESC, event_type ASC) AS rn
  FROM counts) WHERE rn = 1
"""


def q_order_priority_check(spark, sf_dir):
    """TPC-H Q4 shape (EXISTS decorrelation): orders in one quarter that
    have at least one RETURNED lineitem (this corpus's lineitem carries no
    commit/receipt dates, so returnflag plays the violated-promise
    predicate), counted per priority. The EXISTS compiles to a left-semi
    join — lineitem is pre-filtered and only its join key survives the
    scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    late = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_ORDER_PRIORITY_CHECK_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_returnflag = 'R')
GROUP BY 1
"""


def q_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape (correlated scalar subquery): revenue from
    lineitems whose quantity is below 20% of their part's average
    quantity. The correlated avg decorrelates to one aggregate over
    lineitem re-joined on partkey — Spark computes it as a shuffle agg
    plus an equi join, never a per-row subquery."""
    li = _t(spark, sf_dir, "lineitem")
    stats = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_q"),
    )
    # qty < 0.2 * avg restated exactly: 5 * qty * n < sum (decimal, no
    # float division -> no order-dependent boundary flips vs the oracle)
    return (
        li.join(stats, li.l_partkey == stats.p_key)
        .filter(
            F.col("l_quantity").cast("decimal(18,4)") * 5 * F.col("n_q")
            < F.col("sum_qty")
        )
        .agg(
            dec_sum("l_extendedprice", "total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SMALL_QUANTITY_REVENUE_SQL = """
WITH s AS (
  SELECT l_partkey AS p_key,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
         count(*) AS n_q
  FROM lineitem GROUP BY 1)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
       count(*) AS n_items
FROM lineitem l JOIN s ON l.l_partkey = s.p_key
WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * n_q < sum_qty
"""


def q_returned_item_revenue(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in one quarter. Customer and nation broadcast; lineitem+orders
    shuffle once on the orderkey; top-20 rides TakeOrderedAndProject with
    a total-order tiebreak."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


_RETURNED_ITEM_REVENUE_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= DATE '1997-07-01' AND o.o_orderdate < DATE '1997-10-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (bidirectional trade): revenue shipped between two
    nations per direction per year — supplier nation and customer nation
    both resolve through broadcast dims; the only fact shuffle is the
    lineitem/orders orderkey join."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .filter(
            F.col("supp_nation").isin("NATION_1", "NATION_2")
            & F.col("cust_nation").isin("NATION_1", "NATION_2")
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue")
    )


_NATION_VOLUME_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
  AND sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
GROUP BY 1, 2, 3
"""


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (market share): NATION_3's share of PROMO-part
    revenue sold to EUROPE customers, per order year. All four dims
    (part-filter keys, supplier nation, customer nation+region) broadcast;
    the only fact-fact shuffle is lineitem/orders on the orderkey. The
    share divides two exact DECIMAL sums, so the double ratio is
    bit-identical to the oracle."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    yearly = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("nat"),
        F.sum(vol).alias("tot"),
    )
    return yearly.select(
        "o_year",
        (F.col("nat").cast("double") / F.col("tot").cast("double")).alias("mkt_share"),
    )


_MARKET_SHARE_SQL = """
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)) AS v,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(v) AS DOUBLE) AS mkt_share
FROM vol GROUP BY 1
"""


def q_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape (conditional counts after a fact-fact join): for
    1997 shipments, per returnflag, how many lineitems belong to
    high-priority vs low-priority orders. The CASE collapses to a
    map-side partial count; the only shuffle is the orderkey join (the
    date filter is pushed to the lineitem scan)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


_PRIORITY_LINES_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY 1
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (conditional-revenue ratio): percent of one
    quarter's revenue that came from PROMO-type parts. Part broadcasts
    (its two join columns are a few MB even at 100x part cardinality);
    both sums accumulate exactly in DECIMAL so the final double ratio has
    a single deterministic rounding."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    agg = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("promo"),
        F.sum(vol).alias("tot"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo").cast("double") / F.col("tot").cast("double")).alias(
            "promo_revenue_pct"
        )
    )


_PROMO_REVENUE_SQL = """
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
"""


def q_supplier_part_count(spark, sf_dir):
    """TPC-H Q16 shape (distinct-count with an exclusion subquery):
    distinct suppliers per (brand, type, size bucket), using lineitem as
    the part-supplier bridge (this schema has no partsupp), excluding
    Brand#9, PROMO parts, and suppliers in arrears (s_acctbal < 0 — the
    complaints-list stand-in). The exclusion list broadcasts as an
    anti-join; count(distinct) is a two-phase hash agg on (dims, supp)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_SUPPLIER_PART_COUNT_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (OR-of-ANDs across two tables): revenue from
    three disjoint brand/size/quantity envelopes. The join stays a plain
    partkey equi-join; the disjunction is a post-join filter whose
    single-sided conjuncts Catalyst still pushes to each scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(11, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(26, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_DISJUNCTIVE_REVENUE_SQL = """
SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape (scalar subquery + anti-join): customers whose
    balance is above the positive-balance average yet placed no order in
    the feed's final year — per market segment, how many and how much
    capital. The scalar average broadcasts as a 1-row cross join; orders
    participates only as a date-pruned distinct key set for the
    anti-join."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-06-01")
        .select("o_custkey")
        .distinct()
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dec_sum("c_acctbal", "total_bal"),
        )
    )


_IDLE_RICH_CUSTOMERS_SQL = """
SELECT c_mktsegment, count(*) AS n_custs,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer
WHERE CAST(c_acctbal AS DOUBLE) >
      (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
       FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= '2000-06-01')
GROUP BY 1
"""


def q_cube_counts(spark, sf_dir):
    """CUBE aggregation: counts and exact revenue sums over every subset
    of (returnflag, linestatus), with grouping_id disambiguating real
    NULLs from subtotal rows. One shuffle: Spark expands the grouping
    sets map-side and aggregates all four granularities in a single
    hash-agg pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dec_sum("l_extendedprice", "sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_price")
    )


_CUBE_COUNTS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_rank_family(spark, sf_dir):
    """Ranking-function family in one window: quartile (ntile),
    percent_rank and cume_dist per market segment ordered by balance.
    All three share one shuffle+sort; the two ratio functions divide
    exact integer ranks, so the doubles are bit-identical to the
    oracle's."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_RANK_FAMILY_SQL = """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def q_set_ops(spark, sf_dir):
    """Set operations (INTERSECT / EXCEPT): customers segmented by which
    order statuses they have — 'both' (open and finished), 'only_open',
    'only_finished'. Each leg is a distinct-aggregated key set; Spark
    compiles intersect/except to the same hash joins the oracle's set
    operators use."""
    o = _t(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_k = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    both = open_k.intersect(fin_k).select(F.lit("both").alias("tag"), "o_custkey")
    only_open = open_k.exceptAll(fin_k).select(
        F.lit("only_open").alias("tag"), "o_custkey"
    )
    only_fin = fin_k.exceptAll(open_k).select(
        F.lit("only_finished").alias("tag"), "o_custkey"
    )
    return both.unionByName(only_open).unionByName(only_fin)


_SET_OPS_SQL = """
WITH open_k AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
fin_k AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM open_k INTERSECT SELECT o_custkey FROM fin_k)
UNION ALL
SELECT 'only_open' AS tag, o_custkey FROM (SELECT o_custkey FROM open_k EXCEPT SELECT o_custkey FROM fin_k)
UNION ALL
SELECT 'only_finished' AS tag, o_custkey FROM (SELECT o_custkey FROM fin_k EXCEPT SELECT o_custkey FROM open_k)
"""


def q_window_counts(spark, sf_dir):
    """Tumbling event-time windows (the monitoring-counts variant of A3;
    SURVEY.md §2.7 'late/stale data'): per-day per-type counts + sums.
    In streaming the same expression runs under a watermark."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("value", "sum_value"),
    )


_WINDOW_COUNTS_SQL = (
    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n, "
    "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2"
)


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary — the canonical scan->agg plan
    (map-side partial agg, 4-group shuffle). Exercises the standard
    aggregate repertoire the reference never needed but an analytics
    engine must have."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-01")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity", "sum_qty"),
        dec_sum("l_extendedprice", "sum_base_price"),
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


_TPCH_PRICING_SQL = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
    " AS sum_disc_price, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' "
    "GROUP BY 1, 2"
)


def q_revenue_by_customer(spark, sf_dir):
    """TPC-H Q3-shaped 3-way join: lineitem x orders shuffle join on the
    orderkey, customer joined on the custkey — revenue per customer+segment."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return rev.join(c, rev.o_custkey == c.c_custkey).select(
        F.col("c_custkey"), F.col("c_name"), F.col("c_mktsegment"), F.col("revenue")
    )


_REVENUE_BY_CUSTOMER_SQL = """
WITH rev AS (
  SELECT o.o_custkey,
         CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS revenue
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey)
SELECT c.c_custkey, c.c_name, c.c_mktsegment, rev.revenue
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
"""


def q_centroids(spark, sf_dir):
    """Per-label embedding centroids (the k-means/IVF training step):
    posexplode -> order-independent per-dimension mean (components
    quantized to 2^-24 — below float32 noise — so the sum is exact integer
    arithmetic). At 100 TB this is THE pattern for centroid updates — one
    shuffle keyed on (label, dim), no driver collection."""
    e = _t(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos0", "component")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("component").cast("double") * F.lit(_CENTROID_SCALE))
        .cast("long")
        .alias("scaled"),
    )
    return comp.groupBy("label", "pos").agg(
        (
            F.sum("scaled").cast("double")
            / F.lit(_CENTROID_SCALE)
            / F.count(F.lit(1)).cast("double")
        ).alias("centroid_val")
    )


_CENTROIDS_SQL = """
SELECT label, t.i AS pos,
       CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 16777216.0) AS BIGINT))
            AS DOUBLE) / 16777216.0 / count(*) AS centroid_val
FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
GROUP BY label, t.i
"""


def q_region_rollup(spark, sf_dir):
    """Star-schema rollup over the full dimension chain: lineitem ->
    supplier -> nation -> region, revenue per (region, nation). All three
    dims broadcast (classic small-dimension star join: the fact table never
    shuffles for the joins, only for the final rollup)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


_REGION_ROLLUP_SQL = """
SELECT r.r_name, n.n_name, count(*) AS n_lines,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


def q_semi_join(spark, sf_dir):
    """Left-semi probe (the complement of q_anti_join's F10 dedup): orders
    whose customer DID produce events."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("o_custkey"))
    return join_ops.semi_join(o, F.broadcast(ev), "o_custkey").select(
        "o_orderkey", "o_custkey"
    )


_SEMI_JOIN_SQL = (
    "SELECT o_orderkey, o_custkey FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)"
)


def q_grouping_rollup(spark, sf_dir):
    """ROLLUP grouping sets: doc counts per (lang, source), per lang, and
    grand total — one pass, Spark expands the grouping sets internally."""
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))


_GROUPING_ROLLUP_SQL = (
    "SELECT lang, source, count(*) AS n_docs FROM documents "
    "GROUP BY ROLLUP(lang, source)"
)


def q_running_total(spark, sf_dir):
    """Per-user running spend: cumulative DECIMAL sum over a deterministic
    order (exact at any accumulation depth), cast back to double."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("cum_value"),
    )


_RUNNING_TOTAL_SQL = """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,4)))
            OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
FROM events
"""


def q_pivot_counts(spark, sf_dir):
    """Pivot: per-user event-type counts as columns. Spark's pivot needs
    the value list pinned for a deterministic schema (also what you do at
    scale — an unpinned pivot scans twice to discover values)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    p = ev.groupBy("user_id").pivot("event_type", types).count()
    return p.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


_PIVOT_COUNTS_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'error') AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id
"""


def q_unpivot(spark, sf_dir):
    """Unpivot (melt): the per-user pivoted counts back to long form —
    the reshaping inverse of q_pivot_counts, via Spark's native unpivot."""
    p = q_pivot_counts(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return p.unpivot("user_id", types, "event_type", "n").filter(F.col("n") > 0)


_UNPIVOT_SQL = (
    "SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n "
    "FROM events GROUP BY user_id, event_type"
)


def q_drift_weekly(spark, sf_dir):
    """Temporal drift monitor — q_drift_report's one-shot comparison
    turned into a SERIES: per epoch-week metrics (rows, value mean via
    scale-0 decimal sums, distinct users, null-rate of props) with
    week-over-week deltas and the same relative-tolerance verdicts via
    lag() over the bounded week axis. One corpus scan + one tiny-axis
    window; the continuous-monitoring face of the validation family."""
    ev = _t(spark, sf_dir, "events")
    wk = (
        ev.withColumn(
            "week",
            F.floor(F.unix_timestamp("ts") / 604800).cast("bigint"),
        )
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("users"),
            (
                (F.count(F.lit(1)) - F.count("props")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("null_rate"),
            F.sum(
                (F.col("value").cast("decimal(18,4)") * F.lit(10000)).cast(
                    "decimal(28,0)"
                )
            ).alias("__s4"),
        )
        .select(
            "week",
            "n",
            "users",
            "null_rate",
            (
                (F.col("__s4").cast("double") / F.lit(10000.0))
                / F.col("n").cast("double")
            ).alias("mean_value"),
        )
    )
    w = Window.orderBy("week")
    prev_mean = F.lag("mean_value").over(w)
    prev_nr = F.lag("null_rate").over(w)
    mean_drift = F.coalesce(
        F.abs(F.col("mean_value") - prev_mean)
        > F.lit(0.05) * F.greatest(F.abs(F.col("mean_value")), F.abs(prev_mean)),
        F.lit(False),
    )
    null_drift = F.coalesce(
        F.abs(F.col("null_rate") - prev_nr) > F.lit(0.02), F.lit(False)
    )
    return wk.select(
        "week",
        "n",
        "users",
        "null_rate",
        "mean_value",
        mean_drift.alias("mean_drift"),
        null_drift.alias("null_drift"),
    ).orderBy("week")


# q_drift_weekly: per-week exact metrics (scale-0 decimal value sums),
# lag() deltas on the bounded week axis, identical tolerance literals.
_DRIFT_WEEKLY_SQL = """
WITH wk AS (
  SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
         count(*) AS n,
         count(DISTINCT user_id) AS users,
         CAST(count(*) - count(props) AS DOUBLE) / count(*) AS null_rate,
         sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(28,0)))
           AS s4
  FROM events GROUP BY 1),
m AS (
  SELECT week, n, users, null_rate,
         (CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / 10000.0)
           / CAST(n AS DOUBLE) AS mean_value
  FROM wk),
lg AS (
  SELECT *, lag(mean_value) OVER (ORDER BY week) AS pm,
            lag(null_rate) OVER (ORDER BY week) AS pn
  FROM m)
SELECT week, CAST(n AS BIGINT) AS n, CAST(users AS BIGINT) AS users,
       null_rate, mean_value,
       coalesce(abs(mean_value - pm)
                  > 0.05 * greatest(abs(mean_value), abs(pm)), FALSE)
         AS mean_drift,
       coalesce(abs(null_rate - pn) > 0.02, FALSE) AS null_drift
FROM lg
ORDER BY week
"""


def q_seasonal_outliers(spark, sf_dir):
    """Seasonal anomaly detection: events deviating > 2 sigma from
    their OWN hour-of-day baseline (q_zscore_outliers' global stats
    miss periodic load patterns; the seasonal bucket is the classic
    fix). sqrt-FREE: the 2-sigma test compares squared deviations —
    (v*n - s)^2 > 4*(n*q - s^2) in the 1e-4-scaled integer units —
    so no libm enters and the whole flag replays exactly. One stats
    groupBy over 24 buckets broadcast back onto the scan; moments are
    exact scale-0 decimal sums."""
    ev = _t(spark, sf_dir, "events")
    v4 = (F.col("value").cast("decimal(18,4)") * F.lit(10000)).cast(
        "decimal(18,0)"
    )
    hod = (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("int")
    base = ev.select(
        hod.alias("hod"), v4.alias("__v4"), "event_id", "value"
    )
    stats = base.groupBy("hod").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__v4").alias("__s"),
        F.sum(
            (F.col("__v4") * F.col("__v4")).cast("decimal(38,0)")
        ).alias("__q"),
    )
    j = base.join(F.broadcast(stats), "hod")
    vd = F.col("__v4").cast("double")
    nd = F.col("__n").cast("double")
    sd = F.col("__s").cast("double")
    qd = F.col("__q").cast("double")
    lhs = (vd * nd - sd) * (vd * nd - sd)
    rhs = F.lit(4.0) * (nd * qd - sd * sd)
    return (
        j.where(lhs > rhs)
        .select("event_id", "hod", "value")
        .orderBy("event_id")
    )


# q_seasonal_outliers: hour buckets, exact scale-0 moments, and the
# identical sqrt-free squared-deviation comparison tree.
_SEASONAL_OUTLIERS_SQL = """
WITH base AS (
  SELECT event_id, value,
         CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS INTEGER) AS hod,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(18,0)) AS v4
  FROM events),
stats AS (
  SELECT hod, count(*) AS n, sum(v4) AS s,
         sum(CAST(v4 * v4 AS DECIMAL(38,0))) AS q
  FROM base GROUP BY hod)
SELECT b.event_id, b.hod, b.value
FROM base b JOIN stats st USING (hod)
WHERE (CAST(b.v4 AS DOUBLE) * CAST(st.n AS DOUBLE)
       - CAST(CAST(st.s AS VARCHAR) AS DOUBLE))
      * (CAST(b.v4 AS DOUBLE) * CAST(st.n AS DOUBLE)
         - CAST(CAST(st.s AS VARCHAR) AS DOUBLE))
      > 4.0 * (CAST(st.n AS DOUBLE) * CAST(CAST(st.q AS VARCHAR) AS DOUBLE)
               - CAST(CAST(st.s AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(st.s AS VARCHAR) AS DOUBLE))
ORDER BY b.event_id
"""


def q_source_gini(spark, sf_dir):
    """Corpus-concentration report: the Gini coefficient of token mass
    across sources — the one-number balance check before a training
    mix is frozen (0 = perfectly even corpus, ->1 = one source owns
    everything; the measure temperature_mix then corrects). Corpus
    collapses to one |sources|-row aggregate; the rank window and the
    closed form G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n run on that
    bounded table — exact integers into one fixed double expression."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.col("n_chars").cast("long")).alias("mass")
    )
    w = Window.orderBy("mass", "source")
    ranked = per.select(
        "source", "mass", F.row_number().over(w).alias("i")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("mass").cast("long").alias("total_mass"),
        (
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("mass")).cast("double")
            / (
                F.count(F.lit(1)).cast("double")
                * F.sum("mass").cast("double")
            )
            - (F.count(F.lit(1)) + F.lit(1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("gini"),
    )


# q_source_gini: |sources|-row mass table, (mass, source) rank, and the
# identical closed-form expression — exact integer sums, one double tree.
_SOURCE_GINI_SQL = """
WITH per AS (
  SELECT source, sum(CAST(n_chars AS BIGINT)) AS mass
  FROM documents GROUP BY source),
rk AS (
  SELECT mass, row_number() OVER (ORDER BY mass, source) AS i FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(mass) AS BIGINT) AS total_mass,
       2.0 * CAST(CAST(sum(i * mass) AS VARCHAR) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE)
            * CAST(CAST(sum(mass) AS VARCHAR) AS DOUBLE))
       - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gini
FROM rk
"""


def q_decay_counts(spark, sf_dir):
    """Per-user half-life-decayed engagement score with EXACT binary
    decay: each event weighs 2^-floor(age/7d) (exponent clamped at 30),
    summed per user — recency-weighted activity for sampling weights or
    retention triage.  The usual exp(-lambda*t) is a libm call summed in
    shuffle order (the q_lm_nll rows-only trap); stepping the half-life
    to power-of-two buckets makes every weight an exact binary fraction:
    the scaled sum Σ 2^(30-e) is a pure int64 (shiftleft), one final
    division by 2^30 closes it.  Anchor = corpus max ts via a 1-row
    broadcast aggregate, so the score is deterministic, not
    wall-clock-dependent.  One scan + one (user) count-sum shuffle."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("__t")
    )
    mx = ev.agg(F.max("__t").alias("__mx"))
    e = F.least(
        F.floor((F.col("__mx") - F.col("__t")) / F.lit(604800)), F.lit(30)
    ).cast("int")
    return (
        ev.crossJoin(F.broadcast(mx))
        .withColumn("__e", e)
        # PySpark's shiftleft() helper only takes a LITERAL bit count —
        # the column-valued shift needs the SQL form
        .withColumn("__w", F.expr("shiftleft(CAST(1 AS BIGINT), 30 - __e)"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__w").alias("__ss"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("__ss").cast("double") / F.lit(float(2**30))).alias(
                "decay_score"
            ),
        )
        .orderBy("user_id")
    )


# q_decay_counts: exact binary decay replayed — shifted int weights,
# int64 sum, one final division by 2^30.
_DECAY_COUNTS_SQL = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
mx AS (SELECT max(t) AS mxt FROM ev),
w AS (
  SELECT user_id,
         (1::BIGINT << (30 - least(
            CAST(floor((mxt - t) / 604800) AS INTEGER), 30))) AS wt
  FROM ev CROSS JOIN mx)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(wt) AS DOUBLE) / 1073741824.0 AS decay_score
FROM w GROUP BY 1 ORDER BY user_id
"""


def q_fk_audit(spark, sf_dir):
    """Referential-integrity audit — the validation family's JOIN-level
    check (q_quality_checks covers single-table contracts): per
    child->parent relation, how many child rows reference a missing
    parent, as counts and an exact orphan rate with a boolean verdict.
    Orphans are created deterministically (customers with
    c_custkey % 97 == 0 and orders with o_orderkey % 101 == 0 play
    'purged'), so both relations actually exercise the failure path.
    Each relation costs one anti join on the FK (the q_anti_join
    shape — parent side reduced to its key column before the join);
    counts fold map-side.  Exact integers + one division per row."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey").where(
        F.col("c_custkey") % 97 != 0
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders_kept = orders.where(F.col("o_orderkey") % 101 != 0)

    def relation(child, fk, parent, pk, name):
        orphans = child.join(
            parent.withColumnRenamed(pk, fk), fk, "left_anti"
        )
        return child.agg(F.count(F.lit(1)).alias("__n")).crossJoin(
            orphans.agg(F.count(F.lit(1)).alias("__o"))
        ).select(
            F.lit(name).alias("relation"),
            F.col("__n").alias("n_child"),
            F.col("__o").alias("n_orphan"),
            (F.col("__o").cast("double") / F.col("__n").cast("double")).alias(
                "orphan_rate"
            ),
            (F.col("__o") == 0).alias("ok"),
        )

    return relation(
        orders.select(F.col("o_custkey")), "o_custkey", cust, "c_custkey",
        "orders->customer",
    ).unionByName(
        relation(
            li.select("l_orderkey"), "l_orderkey",
            orders_kept.select("o_orderkey"), "o_orderkey",
            "lineitem->orders",
        )
    ).orderBy("relation")


# q_fk_audit: the two anti joins replayed as NOT EXISTS, exact counts,
# one division per relation.
_FK_AUDIT_SQL = """
WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
okept AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 101 <> 0),
r1 AS (
  SELECT 'orders->customer' AS relation,
         (SELECT count(*) FROM orders) AS n_child,
         (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM cust c WHERE c.c_custkey = o.o_custkey))
           AS n_orphan),
r2 AS (
  SELECT 'lineitem->orders' AS relation,
         (SELECT count(*) FROM lineitem) AS n_child,
         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM okept k WHERE k.o_orderkey = l.l_orderkey))
           AS n_orphan)
SELECT relation, n_child, n_orphan,
       CAST(n_orphan AS DOUBLE) / CAST(n_child AS DOUBLE) AS orphan_rate,
       n_orphan = 0 AS ok
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
ORDER BY relation
"""


def q_benford(spark, sf_dir):
    """Benford first-digit audit of order prices — the forensic data-
    quality check for fabricated/truncated numeric columns: observed
    first-digit rates vs the Benford expectation log10(1+1/d), with
    per-digit absolute deviation and a 5-point verdict.  The libm trap
    dodged by construction: the nine Benford probabilities are
    shortest-roundtrip double LITERALS shared verbatim with the oracle
    (_BENFORD_P), so no engine ever evaluates log10 — rates are exact
    count ratios, deviations one subtraction each.  One scan, one
    9-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.col("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = d.agg(F.count(F.lit(1)).alias("__t"))
    p = F.element_at(
        F.array(*[F.lit(x) for x in _BENFORD_P]), F.col("digit")
    )
    rate = F.col("n").cast("double") / F.col("__t").cast("double")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            rate.alias("rate"),
            p.alias("benford_p"),
            F.abs(rate - p).alias("abs_dev"),
            (F.abs(rate - p) < F.lit(0.05)).alias("ok"),
        )
        .orderBy("digit")
    )


# q_benford: observed first-digit rates vs the nine shared literal
# probabilities — no log10 evaluated anywhere.
_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(trunc(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INTEGER) AS digit
  FROM orders),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT count(*) AS tt FROM d),
p AS (
  -- 6-decimal literals, CAST to DOUBLE: short decimals single-round
  -- through DuckDB's DECIMAL parse; full-precision ones double-round
  -- and land 1 ulp off Spark
  SELECT * FROM (VALUES
    (1, CAST(0.30103 AS DOUBLE)), (2, CAST(0.176091 AS DOUBLE)),
    (3, CAST(0.124939 AS DOUBLE)), (4, CAST(0.09691 AS DOUBLE)),
    (5, CAST(0.079181 AS DOUBLE)), (6, CAST(0.066947 AS DOUBLE)),
    (7, CAST(0.057992 AS DOUBLE)), (8, CAST(0.051153 AS DOUBLE)),
    (9, CAST(0.045757 AS DOUBLE))) AS v(digit, benford_p))
SELECT c.digit, c.n,
       CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE) AS rate,
       p.benford_p,
       abs(CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE) - p.benford_p)
         AS abs_dev,
       abs(CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE) - p.benford_p) < 0.05
         AS ok
FROM c JOIN p USING (digit) CROSS JOIN t
ORDER BY c.digit
"""


def q_hhi(spark, sf_dir):
    """Herfindahl–Hirschman concentration of order spend per nation:
    sum of squared customer shares, the market-concentration audit
    (the pairwise-free twin of q_source_gini's inequality measure).
    Per-customer cents are exact ints (floor(x*100+0.5), the
    q_corr_moments contract), per-term squares cast to DECIMAL(38,0)
    BEFORE summing, and hhi = num/(den*den) runs on scale-0 decimal
    double casts — deterministic.  Two key shuffles (custkey, nation);
    the 25-row nation dim broadcasts."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    per_cust = (
        o.select(F.col("o_custkey"), cents.alias("__c"))
        .groupBy("o_custkey")
        .agg(F.sum("__c").alias("__r"))
    )
    joined = per_cust.join(
        F.broadcast(c), per_cust.o_custkey == c.c_custkey
    ).join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("__r").cast("decimal(38,0)")).cast("decimal(38,0)").alias(
            "revenue_cents"
        ),
        F.sum(
            (F.col("__r").cast("decimal(38,0)") * F.col("__r").cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            )
        ).cast("decimal(38,0)").alias("__num"),
    )
    den = F.col("revenue_cents").cast("double")
    return nodec(
        agg.select(
            "n_name",
            "n_cust",
            "revenue_cents",
            (F.col("__num").cast("double") / (den * den)).alias("hhi"),
        ).orderBy("n_name")
    )


# q_hhi: per-customer exact cents, HUGEINT squares, one division on
# double casts of the scale-0 aggregates.
_HHI_SQL = """
WITH pc AS (
  SELECT o_custkey,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS r
  FROM orders GROUP BY 1),
j AS (
  SELECT n.n_name, CAST(pc.r AS HUGEINT) AS r
  FROM pc
  JOIN customer c ON c.c_custkey = pc.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey),
a AS (
  SELECT n_name, count(*) AS n_cust,
         sum(r) AS revenue_cents,
         sum(r * r) AS num
  FROM j GROUP BY 1)
SELECT n_name, n_cust,
       CAST(CAST(revenue_cents AS VARCHAR) AS DOUBLE) AS revenue_cents,
       -- VARCHAR-routed conversions: num (sum of squared cents) exceeds
       -- 2^53, where DuckDB's direct HUGEINT->DOUBLE double-rounds (the
       -- q_spearman lesson); the string parser is correctly rounded
       CAST(CAST(num AS VARCHAR) AS DOUBLE)
         / (CAST(CAST(revenue_cents AS VARCHAR) AS DOUBLE)
            * CAST(CAST(revenue_cents AS VARCHAR) AS DOUBLE))
         AS hhi
FROM a ORDER BY n_name
"""


def q_simpson(spark, sf_dir):
    """Simpson diversity of languages per source: 1 - Σ n_i(n_i-1) /
    (N(N-1)) — the exact finite-sample (unbiased) form, pure count
    arithmetic with per-term products cast to DECIMAL(38,0), one
    division then one subtraction.  The libm-free diversity measure
    (Shannon entropy needs a log); with q_source_gini and q_hhi this
    completes the concentration/diversity audit family.  Two bounded
    groupBys ((source, lang) then source)."""
    d = _t(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    agg = sl.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(
            (F.col("n").cast("decimal(38,0)") * (F.col("n") - 1).cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            )
        ).cast("decimal(38,0)").alias("__num"),
    )
    nn = F.col("n_docs").cast("decimal(38,0)") * (
        F.col("n_docs") - 1
    ).cast("decimal(38,0)")
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        (
            F.lit(1.0)
            - F.col("__num").cast("double") / nn.cast("double")
        ).alias("simpson"),
    ).orderBy("source")


# q_simpson: unbiased Simpson index, per-term n(n-1) in HUGEINT, one
# division one subtraction.
_SIMPSON_SQL = """
WITH sl AS (
  SELECT source, lang, count(*) AS n
  FROM documents GROUP BY 1, 2),
a AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_docs,
         count(*) AS n_langs,
         sum(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)) AS num
  FROM sl GROUP BY 1)
SELECT source, n_docs, n_langs,
       1.0 - CAST(CAST(num AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(n_docs AS HUGEINT)
                     * CAST(n_docs - 1 AS HUGEINT) AS VARCHAR) AS DOUBLE)
           AS simpson
FROM a ORDER BY source
"""


def q_fd_violations(spark, sf_dir):
    """Functional-dependency audit — the profiling complement to
    q_fk_audit's referential checks: for each DECLARED dependency
    lhs → rhs, how many lhs groups map to more than one rhs value (and
    the worst fan-out).  A key discovery/validation primitive: catches
    denormalization bugs (one order key, two priorities) before they
    poison joins.  One countDistinct groupBy per relation, unioned;
    exact integers, one division for the violation rate."""
    specs = [
        ("orders", "o_custkey", "o_orderpriority"),
        ("part", "p_brand", "p_type"),
        ("documents", "source", "lang"),
    ]
    outs = []
    for table, lhs, rhs in specs:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.count_distinct(rhs).alias("__k"))
        outs.append(
            g.agg(
                F.lit(f"{table}.{lhs}->{rhs}").alias("relation"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(
                    F.when(F.col("__k") > 1, 1).otherwise(0)
                ).alias("n_violating"),
                F.max("__k").alias("max_fanout"),
            )
        )
    u = outs[0]
    for x in outs[1:]:
        u = u.unionByName(x)
    return u.select(
        "relation",
        "n_groups",
        "n_violating",
        "max_fanout",
        (
            F.col("n_violating").cast("double")
            / F.col("n_groups").cast("double")
        ).alias("violation_rate"),
        (F.col("n_violating") == 0).alias("ok"),
    ).orderBy("relation")


# q_fd_violations: one countDistinct rollup per declared dependency.
_FD_VIOLATIONS_SQL = """
WITH f1 AS (
  SELECT 'orders.o_custkey->o_orderpriority' AS relation,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         max(k) AS max_fanout
  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS k
        FROM orders GROUP BY 1)),
f2 AS (
  SELECT 'part.p_brand->p_type' AS relation,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         max(k) AS max_fanout
  FROM (SELECT p_brand, count(DISTINCT p_type) AS k
        FROM part GROUP BY 1)),
f3 AS (
  SELECT 'documents.source->lang' AS relation,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         max(k) AS max_fanout
  FROM (SELECT source, count(DISTINCT lang) AS k
        FROM documents GROUP BY 1)),
u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3)
SELECT relation, n_groups, n_violating, max_fanout,
       CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE)
         AS violation_rate,
       n_violating = 0 AS ok
FROM u ORDER BY relation
"""
