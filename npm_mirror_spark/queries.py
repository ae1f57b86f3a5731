"""Driver-contract query registry: one (spark, sf_dir) -> DataFrame callable
per operator from SURVEY.md §2, plus the matching DuckDB oracle SQL.

Determinism rules (the driver hash-compares values against DuckDB):
- every computed column is aliased identically in Spark and SQL;
- double SUMs go through DECIMAL(18,4) (exact, order-independent) and are
  cast back to double; averages divide two exact values; when an exact
  decimal sum can exceed 2^53, keep the accumulated decimal at SCALE 0
  (pre-scale the operand by 10^scale) — a fractional-scale decimal above
  2^53 converts to double via TWO roundings in DuckDB (int128 -> double,
  then /10^scale) but ONE in Spark (BigDecimal), a 1-ulp divergence the
  r7 sf0.1 sweep caught in q_trend_by_group;
- even at SCALE 0, DuckDB's direct HUGEINT -> DOUBLE cast itself
  double-rounds (upper*2^64 + lower, two roundings — the r9 sf0.1 sweep
  caught q_spearman's rho2 off by ulps); when an exact integer that can
  exceed 2^53 must become a DOUBLE in an oracle, route it through
  VARCHAR (CAST(CAST(x AS VARCHAR) AS DOUBLE)) — DuckDB's string parser
  is correctly rounded, matching Spark's BigDecimal.doubleValue;
- dot products / norms evaluate in index order on double-cast arrays in
  both engines, so floats are bit-identical;
- top-N windows always carry a total-order tiebreak.

The qname -> reference-operator mapping rationale is FIXTURES.md §C; each
function cites the reference behavior it models.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from npm_mirror_spark import faces
from npm_mirror_spark.operators import aggregates as agg_ops
from npm_mirror_spark.operators import curation as cur_ops
from npm_mirror_spark.operators import sketches as sketch_ops
from npm_mirror_spark.operators import dedup as dedup_ops
from npm_mirror_spark.operators import joins as join_ops
from npm_mirror_spark.operators import projections as proj
from npm_mirror_spark.operators import bloom as bloom_ops
from npm_mirror_spark.operators import retrieval as ret_ops
from npm_mirror_spark.operators import similarity as sim_ops
from npm_mirror_spark.operators import text as text_ops
from npm_mirror_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_sum(col: str, alias: str) -> F.Column:
    """Order-independent double sum: exact DECIMAL accumulation, double out."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double").alias(alias)


def _nodec(df: DataFrame) -> DataFrame:
    """Cast every DecimalType output column to double, keeping names/order.

    Registered faces must not emit DecimalType (r9 driver lesson: the
    driver's pandas-path materialization renders a Spark ``Decimal`` cell
    differently from DuckDB's HUGEINT even when the values are
    bit-identical — q_rank_sum/q_ks_stat/q_cusum went driver-red on type
    alone).  ``BigDecimal.doubleValue`` is correctly rounded, so pairing
    this cast with the oracle-side VARCHAR route
    (``CAST(CAST(x AS VARCHAR) AS DOUBLE)``, also correctly rounded)
    yields identical doubles at any magnitude.  Internal DECIMAL(38,0)
    accumulation inside the operators stays untouched — only the face
    (the reported schema) changes.  Enforced registry-wide by
    tests/test_registry_invariants.py::test_no_decimal_output_faces and
    rejected at compare time by tests/oracle_harness.py."""
    from pyspark.sql.types import DecimalType

    if not any(isinstance(f.dataType, DecimalType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


# ---------------------------------------------------------------------------
# Projections / scan (P5-P11, P10, S2-S3)
# ---------------------------------------------------------------------------


def q_scan_project(spark, sf_dir):
    """P10/S4: key-subset projection (organize-NAS.py:56) — column pruning
    reaches the parquet scan (ReadSchema shows only 3 columns)."""
    return _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")


def q_json_decode(spark, sf_dir):
    """S3: json.loads-per-line (changes_consumer.py:391) as from_json."""
    ev = _t(spark, sf_dir, "events")
    decoded = proj.json_decode(ev, "props", "k INT")
    return decoded.select("event_id", F.col("decoded.k").alias("prop_k"))


def q_regex_clean(spark, sf_dir):
    """P6: special-char scrub (changes_consumer.py:89-92)."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_custkey", proj.scrub_special_chars("c_name").alias("clean_name"))


def q_split_last(spark, sf_dir):
    """P5: scoped-name tail split (changes_consumer.py:345-349)."""
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", proj.split_last("p_name", " ").alias("last_token"))


def q_prefix_bucket(spark, sf_dir):
    """P7/P11/A8: 3-char prefix-hash bucket (changes_consumer.py:102-107)
    surfaced as a groupBy count — the oracle-checkable face of the layout."""
    p = _t(spark, sf_dir, "part")
    return agg_ops.count_by(
        p.select(proj.prefix_bucket("p_name").alias("bucket")), "bucket"
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


# ---------------------------------------------------------------------------
# Filters (F1-F5)
# ---------------------------------------------------------------------------


def q_filter_notnull(spark, sf_dir):
    """F1/F5: null-doc skip (changes_consumer.py:129-130)."""
    ev = _t(spark, sf_dir, "events")
    from npm_mirror_spark.operators.filters import filter_not_null

    return filter_not_null(ev, "props", "value").select("event_id", "event_type", "value")


def q_filter_size(spark, sf_dir):
    """F2/F3/F4: MAX_SIZE threshold (changes_consumer.py:20,149-199) with
    per-flag aggregates; the filter is pushed down to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    from npm_mirror_spark.operators.filters import filter_max_size

    kept = filter_max_size(li, "l_extendedprice", 10_000)
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum("l_quantity", "sum_qty"),
        _dec_sum("l_extendedprice", "sum_price"),
    )


# ---------------------------------------------------------------------------
# Aggregations / windows (A1-A5)
# ---------------------------------------------------------------------------

def _LATEST_ORDER():
    return [F.desc("o_orderdate"), F.desc("o_orderkey")]


def _LINE_RECENCY():
    return [F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")]


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
        _dec_sum("o_totalprice", "total_spend"),
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


def q_retention_topn(spark, sf_dir):
    """A2 keep-side: newest-5-per-group retention
    (changes_consumer.py:25,220-243)."""
    li = _t(spark, sf_dir, "lineitem")
    kept = agg_ops.retention_topn(
        li, ["l_partkey"], _LINE_RECENCY(), n=5, rank_col="keep_rank"
    )
    return kept.select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate", "keep_rank")


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
    dropped = agg_ops.retention_gc(gated, ["l_partkey"], _LINE_RECENCY(), n=5)
    return dropped.select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate")


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


def q_count_events(spark, sf_dir):
    """A3: event counters as groupBy counts (changes_consumer.py:39,370)."""
    return agg_ops.count_by(_t(spark, sf_dir, "events"), "event_type")


def q_max_seq(spark, sf_dir):
    """A4/J3/S5: start-seq reconciliation — max over the stream vs a
    configured floor (producer.ts:61-97)."""
    return agg_ops.max_seq(_t(spark, sf_dir, "events"), "event_id", floor=5000)


def q_lag(spark, sf_dir):
    """A5: lag = newest_seq - last_seq (producer.ts:206-243), per user."""
    return agg_ops.lag_per_group(
        _t(spark, sf_dir, "events"), "user_id", "event_id", alias="seq_lag"
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


# ---------------------------------------------------------------------------
# Joins (J1-J2)
# ---------------------------------------------------------------------------


def q_anti_join(spark, sf_dir):
    """J1/F10: existence-probe dedup (mirror.ts:114-126) — orders whose
    customer produced no events."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("o_custkey"))
    return join_ops.anti_join(o, ev, "o_custkey", broadcast_inventory=True).select(
        "o_orderkey", "o_custkey"
    )


def q_enrich_join(spark, sf_dir):
    """J2: per-row enrichment (changes_consumer.py:160-169) as a broadcast
    equi-join against the customer dimension."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return join_ops.enrich_join(
        ev, c, on=[ev.user_id == c.c_custkey], broadcast_dim=True
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value")


# ---------------------------------------------------------------------------
# Extension: dedup (BASELINE.json north star)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup under redelivery: re-deliver every 10th event, then
    dropDuplicates — the seq-keyed dedup upgrade over the reference's
    duplicate-happy sink (changes_consumer.py:325)."""
    ev = _t(spark, sf_dir, "events")
    redelivered = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    return dedup_ops.dedup_exact(redelivered, ["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def _docs_with_dups(spark, sf_dir):
    """documents + injected exact dups (id%7, +100000) and near-dups
    (id%11, +200000, one word appended) — deterministic fuzz corpus."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    near = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzextra")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


def q_dedup_norm(spark, sf_dir):
    """Normalized-text dedup: sha2(canonical text) grouping; shuffle moves
    64-hex keys, not document bodies."""
    return dedup_ops.dedup_normalized(_docs_with_dups(spark, sf_dir), "text", "doc_id")


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates (shingle -> 8 minhashes -> 4 bands
    -> bucket join) over the dup-injected corpus."""
    return dedup_ops.minhash_candidate_pairs(
        _docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    )


def q_dedup_keepset(spark, sf_dir):
    """END-TO-END fuzzy dedup — the training-data terminal step: MinHash/
    LSH candidate pairs -> connected components (min-label propagation,
    operators/dedup.py:connected_components) -> one canonical min-id doc
    per duplicate cluster, unpaired docs passing through. Oracle computes
    the same components via a recursive reachability closure."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    return dedup_ops.dedup_keepset(docs.select("doc_id"), pairs)


def _banded_pairs(a, b, id_a="id_a", id_b="id_b", width=20, extra_keys=()):
    """Equi-keyed candidate pairs with ``0 < id_b - id_a <= width``.

    The naive formulation equi-joins only on low-cardinality keys (e.g.
    ``lang``, ~5 values) and leaves the id band as a non-equi post-filter:
    at 100 TB that hashes the whole corpus onto a handful of reducers and
    enumerates near-quadratic within-key pairs. Instead the id band joins
    as an EQUI key: band = floor(id/width); a qualifying pair lands either
    in the same band or the next one, so side ``a`` is emitted twice (own
    band + neighbor band) and each pair matches exactly once. Shuffle key
    cardinality becomes O(n/width) — uniform, skew-free, linear pair count.
    """
    band_a = F.floor(F.col(id_a) / width)
    band_b = F.floor(F.col(id_b) / width)
    a2 = a.withColumn("__band", band_a).unionByName(
        a.withColumn("__band", band_a + 1)
    )
    b2 = b.withColumn("__band", band_b)
    cond = (F.col(id_b) > F.col(id_a)) & (F.col(id_b) - F.col(id_a) <= width)
    for ka, kb in extra_keys:
        cond = cond & (F.col(ka) == F.col(kb))
    return a2.join(b2, ["__band"]).filter(cond).drop("__band")


def q_edit_distance(spark, sf_dir):
    """Levenshtein verification over blocked candidate pairs (same lang,
    id within 20) — the character-level twin of q_ngram_jaccard's
    token-level verify; both engines evaluate the same built-in exactly.
    Emitted as (pair, distance, within-10%-of-longer-doc flag). The pair
    join is equi-keyed on (id-band, lang) via _banded_pairs — not
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
    pairs = _banded_pairs(a, b, extra_keys=[("__la", "__lb")])
    dist = F.levenshtein("__ta", "__tb")
    longer = F.greatest(F.length("__ta"), F.length("__tb"))
    return pairs.select(
        "id_a",
        "id_b",
        dist.alias("edit_dist"),
        (dist * 10 <= longer).alias("near_dup"),
    )


def q_dedup_keepbest(spark, sf_dir):
    """Quality-aware keep-set: per duplicate cluster keep the LONGEST
    copy (ties -> lowest id) — here the '... zzzextra' variants beat
    their originals, which distinguishes this from q_dedup_keepset's
    min-id rule (operators/dedup.py:dedup_keepset_best)."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    scored = docs.withColumn("__len", F.length("text"))
    return dedup_ops.dedup_keepset_best(
        scored, pairs, "__len"
    ).select("doc_id")


def q_dup_cluster_sizes(spark, sf_dir):
    """Dedup diagnostics: the duplicate-cluster size histogram (how many
    pairs, triples, ... of near-identical docs exist) — the number a
    corpus owner checks before deciding how aggressive dedup should be.
    Reuses the connected components of the MinHash pair graph."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    comp = dedup_ops.connected_components(pairs)
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard verification over blocked pairs (same lang,
    id within 20) — the verify stage behind MinHash candidates. Pair join
    equi-keyed on (id-band, lang) via _banded_pairs, not lang-only."""
    d = _t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("__lang_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("__lang_b"))
    pairs = _banded_pairs(a, b, extra_keys=[("__lang_a", "__lang_b")]).select(
        "id_a", "id_b"
    )
    sh = d.select(
        "doc_id", F.array_distinct(dedup_ops.word_shingles("text", 3)).alias("__sh")
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    union = F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - inter
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sh_a")), "id_a"
        )
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("__sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0)
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via half-signature blocking (pigeonhole);
    oracle computes the identical 16-bit signatures with DuckDB bit ops."""
    return dedup_ops.simhash_pairs(
        _docs_with_dups(spark, sf_dir), "doc_id", "text", max_hamming=3
    )


# ---------------------------------------------------------------------------
# Extension: similarity search
# ---------------------------------------------------------------------------


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: probes (vec_id<10) broadcast against the
    corpus; exact baseline for ANN."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return sim_ops.cosine_topk(e, probes, k=5).select(
        "probe_id", "neighbor_id", "cos_sim", "rank"
    )


def q_cosine_topk_arrow(spark, sf_dir):
    """Arrow/BLAS fast path of q_cosine_topk (numpy matmul per batch,
    local top-k before the shuffle). No oracle by design: BLAS summation
    order differs from the sequential HOF sums at the last float bits —
    equivalence is cross-validated against the oracle-exact twin in
    tests/test_crossvalidation.py."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return sim_ops.cosine_topk_pandas(e, probes, k=5).select(
        "probe_id", "neighbor_id", "cos_sim", "rank"
    )


def q_cosine_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs above 0.4 (the corpus max pairwise
    sim is ~0.51, so the threshold yields a small real set).

    This is the brute all-pairs EXACTNESS BASELINE and it is SIZE-GATED:
    the operator refuses inputs above 100k rows with a pointer to the
    cluster-blocked q_ivf_dup_pairs, so the O(n^2) plan cannot run on a
    real corpus by accident. It stays registered (rather than flipping
    the name onto the IVF plan) because at this sub-dup-grade threshold
    the IVF blocking measurably under-recalls the exact answer — pairs
    at cos 0.4 split across clusters; see
    tests/test_crossvalidation.py::test_ivf_dup_pairs_subset_of_bruteforce
    — so swapping implementations would silently change the query's
    semantics from exact to approximate."""
    return sim_ops.cosine_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _ivf_centroids(e):
    """Deterministic centroid pick shared by the IVF queries (vec_id%50==0
    — reproducible in the DuckDB oracle, unlike a trained k-means)."""
    return e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )


def q_ann_ivf(spark, sf_dir):
    """IVF ANN, oracle-checked end-to-end: deterministic centroids
    (vec_id%50==0), every corpus vector assigned to its max-cosine
    centroid, probes (vec_id<5) search only their 2 nearest clusters."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return sim_ops.ivf_topk(e, probes, _ivf_centroids(e), k=3, nprobe=2)


def q_ivf_dup_pairs(spark, sf_dir):
    """Embedding near-dup pairs at scale: IVF-assign, then pair only
    WITHIN a cluster (equi join on cluster id — no all-pairs join).
    q_cosine_dup_pairs is the size-gated brute-force exactness baseline;
    this is the plan that survives 100 TB, and the cross-validation test
    characterizes exactly what the blocking trades away
    (intra-cluster-only recall)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim_ops.ivf_dup_pairs(e, _ivf_centroids(e), threshold=0.4)


def q_ann_recall(spark, sf_dir):
    """Measure, don't guess: per-probe recall of the IVF ANN against the
    exact top-k on the SAME probes/k — the number that justifies (or
    vetoes) nprobe at scale. Semi-join of exact neighbors against ANN
    neighbors, counted per probe."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = sim_ops.cosine_topk(e, probes, k=3).select(
        "probe_id", "neighbor_id"
    )
    ann = sim_ops.ivf_topk(e, probes, _ivf_centroids(e), k=3, nprobe=2).select(
        F.col("probe_id").alias("__p"), F.col("neighbor_id").alias("__n")
    )
    hit = exact.join(
        ann,
        (exact.probe_id == ann.__p) & (exact.neighbor_id == ann.__n),
        "left_semi",
    )
    found = hit.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_found"))
    return (
        exact.groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(found, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_found", F.lit(0)).alias("n_found"),
            (F.coalesce("n_found", F.lit(0)) / F.col("k")).alias("recall"),
        )
    )


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN with exact rerank (Jegou et al. 2011) —
    the compressed-index tier of the ANN stack: train sub-codebooks on a
    bounded sample, quantize every vector to m=8 one-byte codes (~32x
    smaller than the float vectors), ADC-score the CODES table per probe
    into a 768-wide shortlist, then exact-rerank only the shortlist
    against full vectors. Same probes/k and same output contract as
    q_cosine_topk, and the oracle IS q_cosine_topk's SQL: the
    registered claim is the measured shortlist-recovery contract —
    ADC + rerank returns the EXACT top-k at every local SF. The width
    comes from MEASURING (similarity.pq_recall is the meter): on the
    sf0.1 worst-case geometry the required width lies in (384, 768] —
    the r6 full-registry sf0.1 sweep caught the old 192 (sized against
    the 10x-smaller sf0.01 corpus) under-recovering there, exactly the
    re-size-before-trusting-at-a-new-scale discipline this docstring
    prescribes; tests/test_pq.py characterizes both regimes."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cb = sim_ops.train_pq(e, m=8, ks=32)
    return sim_ops.pq_topk_rerank(e, probes, cb, k=5, shortlist=768)


def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: IVF-cluster the embeddings, drop
    every vector that has a lower-id near-duplicate (cos >= 0.4) in its
    cluster, return the survivors. The 100 TB shape: intra-cluster
    pairing only, dropped-id set broadcast into a left-anti join
    (operators/similarity.py:semdedup)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim_ops.semdedup(e, _ivf_centroids(e), threshold=0.4).select(
        "vec_id", "label"
    )


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
            _dec_sum("l_extendedprice", "total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


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
            _dec_sum("c_acctbal", "total_bal"),
        )
    )


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
            _dec_sum("l_extendedprice", "sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_price")
    )


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
            _dec_sum("value", "sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").cast("bigint").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


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


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (the standard hybrid-retrieval combiner):
    per probe, rank the corpus by cosine AND by raw dot product, fuse
    with 1/(60+rank) + 1/(60+rank), return the fused top-10. Probes
    broadcast; the corpus is scanned once; both rank windows and the
    final top-k share ONE probe_id shuffle (three sorts, no extra
    exchanges). Ranks are exact integers, so the fused doubles are
    bit-identical to the oracle."""
    e = _t(spark, sf_dir, "embeddings")
    c = sim_ops.with_norm(e, "embedding", "__cn").select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__cv"),
        "__cn",
    )
    p = sim_ops.with_norm(e.filter(F.col("vec_id") < 5), "embedding", "__pn").select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__pv"),
        "__pn",
    )
    dp = sim_ops.dot(F.col("__cv"), F.col("__pv"))
    scored = c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id")).select(
        "probe_id",
        "neighbor_id",
        (dp / (F.col("__cn") * F.col("__pn"))).alias("cos_sim"),
        dp.alias("dp"),
    )
    wc = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    wd = Window.partitionBy("probe_id").orderBy(F.desc("dp"), F.asc("neighbor_id"))
    fused = scored.select(
        "probe_id",
        "neighbor_id",
        F.row_number().over(wc).alias("r_cos"),
        F.row_number().over(wd).alias("r_dot"),
    ).select(
        "probe_id",
        "neighbor_id",
        (
            F.lit(1.0) / (F.lit(60) + F.col("r_cos"))
            + F.lit(1.0) / (F.lit(60) + F.col("r_dot"))
        ).alias("rrf_score"),
    )
    wr = Window.partitionBy("probe_id").orderBy(F.desc("rrf_score"), F.asc("neighbor_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wr))
        .filter(F.col("fused_rank") <= 10)
    )


def q_doc_rarity(spark, sf_dir):
    """Document rarity score (a lexical quality signal): mean corpus
    frequency-rank of each document's tokens. The rank table is the
    AGGREGATED vocabulary — orders of magnitude smaller than the corpus —
    so its global sort is cheap and the per-doc scoring is a broadcast
    join + one doc_id aggregation. Integer ranks keep the mean exact
    (no libm, unlike tf-idf's log)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(text_ops.ws_tokens("text")).alias("term"))
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    rk = tf.select(
        "term",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("term")))
        .alias("rank"),
    )
    return (
        tok.join(F.broadcast(rk), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("rank").cast("double") / F.count(F.lit(1))).alias("avg_rank"),
        )
    )


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


def q_order_size_dist(spark, sf_dir):
    """Two-level aggregation (distribution of group sizes): how many
    orders have k lineitems, for each k. The classic shuffle-then-tiny-
    shuffle shape — the second aggregate runs over one row per order,
    already a reduction of the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return sizes.groupBy("n_items").agg(F.count(F.lit(1)).alias("n_orders"))


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


def q_dup_rate_by_source(spark, sf_dir):
    """Curation analytics: duplicate rate per ingest source (the metric a
    corpus pipeline alerts on), over the deterministic dup-injected
    corpus. Normalized-hash distinct counts — the shuffle carries 64-hex
    keys + source, never document bodies; the rate divides two exact
    counts."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dups = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = d.unionByName(dups)
    h = corpus.select("source", dedup_ops.text_hash("text").alias("text_hash"))
    n = F.count(F.lit(1))
    uniq = F.countDistinct("text_hash")
    return h.groupBy("source").agg(
        n.alias("n_docs"),
        uniq.alias("n_uniq"),
        ((n - uniq).cast("double") / n).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Extension: text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark, sf_dir):
    """Corpus stats per language — exact integer sums, derived average."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.text_stats_by(d, "text", "lang")


def q_quality_score(spark, sf_dir):
    """Per-doc quality features: token counts, mean token length, stopword
    and punctuation ratios."""
    d = _t(spark, sf_dir, "documents")
    feats = text_ops.quality_features(d, "text")
    return feats.select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "punct_ratio"
    )


def q_lang_id(spark, sf_dir):
    """Heuristic stopword-scoring language ID with deterministic tiebreak."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.language_id("text").alias("lang_guess"))


def q_token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_ops.ws_token_count("text").alias("ws_tokens"),
        text_ops.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    """Order-insensitive token-set fingerprint per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.fingerprint("text").alias("fp"))


def q_gopher_rules(spark, sf_dir):
    """Gopher/RefinedWeb-style quality gate with per-rule audit flags and
    within-doc repetition (duplicated-trigram fraction) — the rule set a
    pretraining pipeline runs before anything expensive
    (operators/text.py:gopher_rules)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.gopher_rules(d, "text").select(
        "doc_id",
        "n_tokens",
        "dup3_ratio",
        "ok_length",
        "ok_token_len",
        "ok_punct",
        "ok_stopwords",
        "low_repetition",
        "keep",
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any word
    trigram with the held-out benchmark suite (here: every 20th doc plays
    the benchmark). The benchmark shingle vocabulary broadcasts; the
    corpus never shuffles except for the per-doc hit counts
    (operators/curation.py:decontaminate)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    corpus = d.where(F.col("doc_id") % 20 != 0)
    # 5-grams, not the dedup trigrams: contamination wants a LOW-collision
    # n-gram (the classic pipelines use 8-13); trigrams on a shared vocab
    # flag most of the corpus, 5-grams isolate true benchmark overlap.
    return cur_ops.decontaminate(corpus, bench, "text", "doc_id", 5)


def q_redact_pii(spark, sf_dir):
    """PII redaction: emails / IPv4s / phone numbers replaced with typed
    tokens, with per-type match counts. PII is injected deterministically
    (every 3rd doc) so the redaction path is exercised for real; patterns
    live in the Java-regex/RE2 common subset so the oracle replays them
    verbatim (operators/curation.py:redact_pii)."""
    d = _t(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".7 tel 555-867-530"),
        F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
    )
    injected = d.withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, pii).otherwise(F.col("text"))
    )
    return cur_ops.redact_pii(injected, "text").select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "redacted"
    )


def q_luhn_scan(spark, sf_dir):
    """Checksum-validated PAN scanning
    (operators/curation.py:luhn_valid16): 16-digit runs are only
    flagged as payment-card PII when they pass the Luhn checksum —
    the validation layer q_redact_pii's shape regexes don't have, and
    the difference between scrubbing card numbers and scrubbing every
    16-digit id at 100 TB.  Candidates come from maximal digit runs
    filtered to length 16 (no lookaround — RE2-safe, boundary-exact);
    a known-valid PAN is injected into every 5th doc and an
    off-by-one-checksum twin into every 7th, so both paths are
    exercised.  Per flagged doc: run/candidate/valid counts.  All
    HOF expression arithmetic in one projection; exact-replay oracle."""
    d = _t(spark, sf_dir, "documents")
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" card 4532015112830366"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" ref 4532015112830367"))
            .otherwise(F.lit("")),
        ),
    )
    runs = F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
    staged = injected.select(
        "doc_id",
        runs.alias("__runs"),
    ).select(
        "doc_id",
        F.size("__runs").alias("n_digit_runs"),
        F.filter("__runs", lambda x: F.length(x) == 16).alias("__cands"),
    )
    out = staged.select(
        "doc_id",
        "n_digit_runs",
        F.size("__cands").alias("n_pan_candidates"),
        F.size(F.filter("__cands", cur_ops.luhn_valid16)).alias("n_luhn_valid"),
    )
    return (
        out.where(F.col("n_pan_candidates") > 0)
        .withColumn("has_pan", F.col("n_luhn_valid") > 0)
        .orderBy("doc_id")
    )


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-and-chunk): documents laid end-to-end per
    source shard and cut into 512-token blocks; emits each doc's token
    offset and block range. Prefix sums partition on the shard key, so no
    global-order bottleneck (operators/curation.py:pack_sequences)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", text_ops.ws_token_count("text").alias("n_tokens")
    )
    packed = cur_ops.pack_sequences(d, "n_tokens", "source", "doc_id", 512)
    return packed.select(
        "source", "doc_id", "n_tokens", "offset", "first_block", "last_block"
    )


def q_pack_blocks(spark, sf_dir):
    """The shard manifest a training loader actually reads: per (shard,
    block), how many documents land in it and how full it is. Derived
    from q_pack_sequences by exploding each doc's block range and
    clipping its token interval to the block; fill divides by the
    power-of-two capacity, so the double is exact."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", text_ops.ws_token_count("text").alias("n_tokens")
    )
    cap = 512
    packed = cur_ops.pack_sequences(d, "n_tokens", "source", "doc_id", cap)
    blocks = packed.select(
        "source",
        "n_tokens",
        "offset",
        F.explode(F.sequence("first_block", "last_block")).alias("block"),
    )
    contrib = F.least(
        F.col("offset") + F.col("n_tokens"), (F.col("block") + 1) * cap
    ) - F.greatest(F.col("offset"), F.col("block") * cap)
    return (
        blocks.withColumn("contrib", contrib)
        .groupBy("source", "block")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("contrib").alias("n_block_tokens"),
        )
        .withColumn("fill", F.col("n_block_tokens") / F.lit(float(cap)))
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-source keep rates applied by
    thresholding a multiplicative id hash — reproducible across engines
    and re-runs, zero shuffle (operators/curation.py:stratified_sample)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    rates = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
    return cur_ops.stratified_sample(d, "source", rates, "doc_id", 0.05)


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


def q_length_histogram(spark, sf_dir):
    """Corpus shape diagnostics: token-count histogram (width-50 buckets)
    per source — the chart a data-mix owner reads before setting packing
    capacity and length filters."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            F.floor(text_ops.ws_token_count("text") / F.lit(50))
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_compress_ratio(spark, sf_dir):
    """Deflate-compressibility per document (repetition/boilerplate
    signal). Arrow pandas UDF over stdlib zlib — deterministic but not
    SQL-expressible, so rows-only driver check; determinism across runs
    is pinned by tests/test_curation.py."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.compression_ratio(d, "text").select("doc_id", "zratio")


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


def q_chunk_tokens(spark, sf_dir):
    """Sliding-window chunking (size 64, stride 48): the document ->
    embedding-input explosion, every token covered, last chunk short
    (operators/text.py:chunk_tokens)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.chunk_tokens(d, "text", "doc_id", size=64, stride=48)


def q_quality_percentile_filter(spark, sf_dir):
    """Relative quality filtering: keep documents at or above the corpus
    25th percentile of stopword ratio (absolute thresholds drift per
    corpus; percentile cuts self-calibrate). The cutoff is ONE exact
    type-7 percentile aggregate broadcast back over the corpus — a
    single-row join, not a global sort or rank window."""
    d = _t(spark, sf_dir, "documents")
    feats = text_ops.quality_features(d, "text").select(
        "doc_id", "stopword_ratio"
    )
    cut = feats.agg(
        F.expr("percentile(stopword_ratio, 0.25)").alias("__p25")
    )
    return (
        feats.join(F.broadcast(cut))
        .filter(F.col("stopword_ratio") >= F.col("__p25"))
        .select("doc_id", "stopword_ratio")
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


# ---------------------------------------------------------------------------
# Extension: event-time windows + classic analytics shapes
# ---------------------------------------------------------------------------


def q_window_counts(spark, sf_dir):
    """Tumbling event-time windows (the monitoring-counts variant of A3;
    SURVEY.md §2.7 'late/stale data'): per-day per-type counts + sums.
    In streaming the same expression runs under a watermark."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum("value", "sum_value"),
    )


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary — the canonical scan->agg plan
    (map-side partial agg, 4-group shuffle). Exercises the standard
    aggregate repertoire the reference never needed but an analytics
    engine must have."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-01")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum("l_quantity", "sum_qty"),
        _dec_sum("l_extendedprice", "sum_base_price"),
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


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


_CENTROID_SCALE = float(1 << 24)  # binary scaling: power-of-two multiply is
# exact on doubles and floor has no rounding ties — unlike a decimal cast,
# where dyadic floats landing exactly on .5 decimal boundaries round
# differently across engines (Spark HALF_UP vs DuckDB HALF_EVEN).


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


def q_salted_counts(spark, sf_dir):
    """Skew-safe counting: salted two-stage aggregation — answer identical
    to q_count_events, exchange topology skew-proof (operators/skew.py)."""
    from npm_mirror_spark.operators.skew import salted_count_by

    return salted_count_by(_t(spark, sf_dir, "events"), "event_type")


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


def q_quality_filter(spark, sf_dir):
    """The pretraining quality gate as one declarative filter: keep docs
    with sane token counts and enough stopword signal, count survivors per
    (lang, source) — the filter expressions all run inside the scan stage."""
    d = _t(spark, sf_dir, "documents")
    feats = text_ops.quality_features(d, "text")
    kept = feats.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 1000)
        & (F.col("mean_token_len") >= 2.0)
        & (F.col("mean_token_len") <= 12.0)
    )
    return kept.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_kept"))


def q_tf_df(spark, sf_dir):
    """Term/document frequencies (the exact half of tf-idf; the log() is
    left out of the oracle contract because libm rounding is not portable
    across engines): per term, total occurrences and document count."""
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(text_ops.ws_tokens("text")).alias("term")
    )
    return terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


def q_heavy_hitters(spark, sf_dir):
    """Frequent items, exact: top-20 corpus terms by occurrence count with
    a total-order tiebreak — the exact counterpart to approx_top_k-style
    sketches, and the shape Spark executes as partial map-side counts +
    TakeOrderedAndProject (no global sort)."""
    terms = q_tf_df(spark, sf_dir)
    return (
        terms.select("term", "tf")
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(20)
    )


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


def q_semi_join(spark, sf_dir):
    """Left-semi probe (the complement of q_anti_join's F10 dedup): orders
    whose customer DID produce events."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("o_custkey"))
    return join_ops.semi_join(o, F.broadcast(ev), "o_custkey").select(
        "o_orderkey", "o_custkey"
    )


def q_grouping_rollup(spark, sf_dir):
    """ROLLUP grouping sets: doc counts per (lang, source), per lang, and
    grand total — one pass, Spark expands the grouping sets internally."""
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))


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


def q_unpivot(spark, sf_dir):
    """Unpivot (melt): the per-user pivoted counts back to long form —
    the reshaping inverse of q_pivot_counts, via Spark's native unpivot."""
    p = q_pivot_counts(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return p.unpivot("user_id", types, "event_type", "n").filter(F.col("n") > 0)


def q_cap_per_source(spark, sf_dir):
    """Deterministic exact-k cap per source: at most 25 docs per source,
    chosen by Knuth-hash order — the seed-free reservoir-sample analog a
    training mix uses to bound any one source's contribution
    (operators/curation.py:cap_per_group). One shuffle on the source key;
    WindowGroupLimit prunes per-partition before the exchange."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cur_ops.cap_per_group(d, "source", "doc_id", 25)


def q_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: for each source pair, how many
    distinct document fingerprints appear in BOTH — the diagnostic a
    corpus owner reads before merging feeds (high overlap = one feed
    mirrors another; dedup before mixing). A deterministic 'mirror' feed
    (every 7th doc re-published) is injected so the matrix is non-trivial
    on the synthetic corpus. Scale shape: distinct (fp, source) pairs =
    one shuffle on the 32-byte fingerprint; the self-join is equi-keyed on
    fp (co-partitioned, both sides share the exchange), output is
    |sources|^2-bounded."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirror = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    docs = d.unionByName(mirror)
    fp = docs.select(text_ops.fingerprint("text").alias("fp"), "source").distinct()
    a = fp.select("fp", F.col("source").alias("source_a"))
    b = fp.select("fp", F.col("source").alias("source_b"))
    return (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count_distinct("fp").alias("n_shared_fps"))
    )


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


def q_cluster_split(spark, sf_dir):
    """Leakage-free train/validation split: the split is decided by
    hashing the duplicate-CLUSTER label, not the document id, so
    near-duplicates can never straddle train and val (the classic eval
    contamination bug). ~90/10 via Knuth-hash threshold on the connected
    component representative; unpaired docs are their own cluster."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    comp = dedup_ops.connected_components(pairs)
    labeled = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster"),
        )
    )
    split = F.when(
        F.pmod(
            F.pmod(F.col("cluster"), F.lit(2**31)) * F.lit(2654435761),
            F.lit(100),
        )
        < 90,
        "train",
    ).otherwise("val")
    return labeled.select("doc_id", "cluster", split.alias("split"))


def q_minhash_recall(spark, sf_dir):
    """Measure, don't guess — for LSH: recall AND precision of the
    MinHash banded candidate pairs against EXACT trigram-Jaccard ground
    truth (>= 0.5) on the dup-injected corpus — recall justifies (or
    vetoes) the (num_hashes, bands) choice, precision prices the
    verification stage the candidates feed; the lexical twin of
    q_ann_recall. Ground truth is EXACT without an all-pairs product or
    an every-shared-shingle co-group: dedup.jaccard_pairs_exact runs the
    prefix-filter route (AllPairs) — each doc indexes only its rarest
    n - ceil(t*n) + 1 shingles, provably lossless for J >= t, and the
    candidate join keys on rare shingles so boilerplate shingles cannot
    skew a bucket (losslessness cross-validated against the naive
    inverted index in tests/test_crossvalidation.py). Shingles ride as
    xxhash64 longs; the oracle recomputes the same truth set naively
    over raw strings, so parity also certifies collision-freeness."""
    docs = _docs_with_dups(spark, sf_dir)
    cand = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    truth = dedup_ops.jaccard_pairs_exact(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    marked = truth.withColumn("__t", F.lit(1)).join(
        cand.select("id_a", "id_b").withColumn("__c", F.lit(1)),
        ["id_a", "id_b"],
        "full_outer",
    )
    hit = F.count(F.when(F.col("__t").isNotNull() & F.col("__c").isNotNull(), 1))
    return marked.agg(
        F.count("__t").alias("n_true_pairs"),
        F.count("__c").alias("n_candidates"),
        hit.alias("n_hit"),
        (hit.cast("double") / F.count("__t")).alias("recall"),
        (hit.cast("double") / F.count("__c")).alias("precision"),
    )


def q_temperature_mix(spark, sf_dir):
    """Per-source temperature-scaled mixture weights (T=2): how a
    pretraining mix up-weights small sources — w_s ∝ sqrt(n_s/N),
    renormalized (operators/curation.py:temperature_mix). T=2 is the
    registered face because sqrt is IEEE-correctly-rounded and therefore
    bit-equal across Spark and DuckDB; the final weight is rounded to 9
    decimals in BOTH engines because its denominator is a cross-row
    float SUM, whose last-ulp value depends on summation order."""
    m = cur_ops.temperature_mix(_t(spark, sf_dir, "documents"), "source", 2.0)
    return m.select(
        "source", "n_docs", "share", F.round("temp_weight", 9).alias("temp_weight")
    )


def q_temperature_sample(spark, sf_dir):
    """APPLIED temperature mix (operators/curation.py:temperature_sample):
    the T=2 weights of q_temperature_mix turned into per-source keep
    thresholds on the deterministic Knuth-hash axis, sampling documents
    toward a 600-doc mixed corpus — the step between the weight REPORT
    and the mixed ROWS. Per-source post-sample counts pin both the
    threshold arithmetic (9-decimal weight clamp, IEEE floor chain) and
    the hash-filter membership. Rate table broadcasts; the sample is a
    map-side filter."""
    d = _t(spark, sf_dir, "documents")
    s = cur_ops.temperature_sample(d, "source", "doc_id", target_docs=600)
    return s.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))


def q_dup_ngram_fraction(spark, sf_dir):
    """Per-doc duplicate n-gram fraction: the share of each document's
    DISTINCT trigram shingles that appear in >= 2 documents — the
    corpus-memorization diagnostic behind substring-dedup decisions
    (operators/dedup.py:dup_ngram_fraction). Shingles ride the shuffle
    as xxhash64 longs; the oracle groups on the raw shingle string, so
    parity also certifies collision-freeness on this corpus."""
    return dedup_ops.dup_ngram_fraction(_t(spark, sf_dir, "documents"))


def q_dup_spans(spark, sf_dir):
    """Maximal duplicated-span extraction (exact-substring-dedup signal,
    Lee et al. 2021 re-expressed Spark-first): positions covered by a
    4-gram that appears in >= 2 documents merge into maximal spans via
    a per-document gaps-and-islands window; output is the per-doc span
    inventory (operators/dedup.py:dup_spans) — the evidence a curation
    pass cuts spans by. Gram carriers shuffle as xxhash64 longs; the
    oracle replays the identical island algebra on raw gram strings."""
    return dedup_ops.dup_spans(_t(spark, sf_dir, "documents"), l=4)


def q_cut_dup_spans(spark, sf_dir):
    """Span-cut curation (the removal half of q_dup_spans): rebuild each
    document with its duplicated spans deleted, keeping the FIRST
    carrier (lowest doc_id) of every duplicated substring — exactly one
    copy survives corpus-wide (operators/dedup.py:cut_dup_spans). The
    rebuild is one in-row higher-order filter after a doc-id equi join
    to the doc's own cut ranges; the oracle rebuilds via an ordered
    string_agg over range-anti-joined token positions."""
    return dedup_ops.cut_dup_spans(_t(spark, sf_dir, "documents"), l=4)


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (the lexical arm of hybrid search; the
    vector arm is q_cosine_topk and q_rrf_fusion fuses ranks): top-20
    documents for a 4-term query. Term filter runs on the exploded token
    stream before any shuffle (posting-list-sized survivors at scale),
    df/corpus stats broadcast, top-k via TakeOrderedAndProject. The
    registered face uses the log-free rational idf with integer-scaled
    weights so the per-doc sum is an order-free bigint (bit-stable
    across engines); the standard Lucene ln-idf face is cross-validated
    in tests/test_retrieval.py (operators/retrieval.py docstring has the
    full determinism argument)."""
    return ret_ops.bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["spark", "join", "vector", "stream"],
        k=20,
    )


def q_ann_sq8(spark, sf_dir):
    """Int8 scalar-quantization ANN with exact rerank — the third tier of
    the ANN stack beside IVF (q_ann_ivf) and PQ (q_ann_pq): per-dimension
    affine int8 codes (4x smaller than float32), ADC scoring via one
    int-matrix x weight-vector product per batch, 64-wide shortlist,
    exact rerank. Same probes/k/output contract as q_cosine_topk, whose
    SQL IS the oracle — the registered claim is exact-top-k recovery
    through the shortlist, like q_ann_pq, but SQ8's per-dim error is far
    milder so the shortlist is 3x narrower (tests/test_sq8.py measures
    both the raw-ADC recall and the recovery width)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    params = sim_ops.train_sq8(e)
    return sim_ops.sq8_topk_rerank(e, probes, params, k=5, shortlist=64)


def q_srp_pairs(spark, sf_dir):
    """Signed-random-projection (hyperplane LSH) near-cosine pairs — the
    embedding twin of q_simhash_pairs and the fourth blocking tier beside
    IVF/PQ/SQ8: 16 deterministic md5-derived sign planes -> 16-bit
    signature (exact int arithmetic, quantized at 2^-24), half-signature
    pigeonhole blocking, Hamming <= 6 gate, then exact cosine verify at
    the same 0.4 threshold as the brute baseline q_cosine_dup_pairs —
    every emitted pair is TRUE; blocking costs only recall, measured in
    tests/test_srp.py. The oracle replays planes, signature, blocking and
    verify bit-for-bit."""
    return sim_ops.srp_pairs(
        _t(spark, sf_dir, "embeddings"),
        sim_ops.srp_signs(16, 64),
        max_hamming=6,
        threshold=0.4,
    )


def q_kmeans(spark, sf_dir):
    """Distributed k-means (Lloyd), oracle-checked end-to-end — unusual
    for an ITERATIVE algorithm: 3 full Lloyd rounds (map-side exact-int
    argmin assignment, one (cluster, pos) integer-sum shuffle per round,
    k x dim numbers to the driver) from the k=8 lowest-id seed vectors,
    then the final partition of every vector. All arithmetic is exact
    int64 (2^-24 quantization) except the centroid mean's two IEEE
    double ops, replayed identically by the oracle's three UNROLLED
    relational rounds — so the assignment is bit-deterministic and the
    driver hash-compares it like any batch query. This is the real
    trainer behind the IVF tier (whose registered queries use an id-mod
    centroid PICK precisely to keep their oracles one CTE)."""
    e = _t(spark, sf_dir, "embeddings")
    model = sim_ops.train_kmeans(e, k=8, n_iter=3)
    return sim_ops.kmeans_assign(e, model["centroids_q"])


def q_ann_ivf_trained(spark, sf_dir):
    """IVF ANN over TRAINED centroids — the production composition the
    two pieces were built for: 3 oracle-replayable Lloyd rounds
    (q_kmeans) produce the 8 centroids, the corpus IVF-assigns to them
    by max cosine, and the vec_id<5 probes search their 2 nearest
    clusters (same contract as q_ann_ivf, whose centroids are an id-mod
    PICK kept for one-CTE oracles). Centroid doubles are q/2^24 —
    integer-scaled by a power of two, so both engines see bit-identical
    values and the whole train->index->search chain hash-matches."""
    e = _t(spark, sf_dir, "embeddings")
    model = sim_ops.train_kmeans(e, k=8, n_iter=3)
    cents = [
        [v / float(1 << 24) for v in c] for c in model["centroids_q"]
    ]
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id long, centroid_vec array<double>",
    )
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return sim_ops.ivf_topk(e, probes, cdf, k=3, nprobe=2)


def q_quality_classifier(spark, sf_dir):
    """Trained quality classifier (fastText/DCLM distillation pattern):
    logistic regression over 256-bucket hashed-BoW presence features,
    trained by 5 full-batch GD rounds — each round ONE Spark job whose
    only driver traffic is the 257-value gradient (bias-as-a-feature
    folds intercept grad + mean loss into the same groupBy) — then the
    whole corpus scored map-side with the broadcast weight row-table.
    The weak label distilled here is a keyword signal (doc mentions
    'spark'); production swaps in LLM judgments or a rule gate, same
    plumbing. Rows-only by nature: sigmoid is libm exp AND float
    gradient sums shuffle-reduce in nondeterministic order, so weights
    reproduce only to tolerance (operators/classifier.py module doc);
    the GD math is pinned against an independent numpy twin and a
    planted-signal learnability floor in tests/test_classifier.py."""
    from npm_mirror_spark.operators import classifier as clf_ops

    docs = _t(spark, sf_dir, "documents")
    # labels persisted (r14, guide §5 persist-on-reuse): consumed by the
    # trainer's count, every GD round's residual join and the final
    # report join — 7 evaluations of the documents scan + contains
    # otherwise, for a (doc_id, int) frame.  feats deliberately NOT
    # persisted: the trainer already caches the bias-augmented table
    # internally, so a face-level cache would only save the scoring
    # pass's single re-tokenize — measured flat at sf0.1 and a
    # corpus-sized cache entry at real scale (the capture-recapture
    # corpus-persist rejection, r13).
    labels = docs.select(
        "doc_id", F.col("text").contains("spark").cast("int").alias("label")
    ).persist()
    feats = clf_ops.hashed_features(docs, dim=256)
    model = clf_ops.train_logreg(feats, labels, dim=256, iters=5, lr=1.0)
    return clf_ops.score_logreg(feats, model).join(labels, "doc_id")


def q_classifier_eval(spark, sf_dir):
    """Exact distributed binary-classifier evaluation — confusion counts
    at a threshold plus the tie-corrected Mann-Whitney AUC in pure
    INTEGER algebra (operators/classifier.py::binary_metrics): rows
    group by distinct score, a running count gives ranks, every positive
    carries the doubled average rank — so even AUC, normally a float
    affair, hash-matches an oracle. Face evaluates a deterministic
    integer scorer (doc length in chars) against the keyword label the
    trained classifier (q_quality_classifier) distills; swap in real
    scores and the same plan evaluates the trained model."""
    from npm_mirror_spark.operators.classifier import binary_metrics

    docs = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.col("text").contains("spark").cast("int").alias("label"),
    )
    return binary_metrics(docs, "score", "label", threshold=500.0)


def q_calibration(spark, sf_dir):
    """Reliability diagram (operators/classifier.py:calibration_bins)
    — the third leg of the eval family beside the exact AUC and PR
    curve: per-bin observed positive rate vs mean score over the same
    deterministic (n_chars score, keyword label) fixture as
    q_classifier_eval. Histogram economics (1-row min/max broadcast,
    one integer bin shuffle); counts exact, means via decimal sums,
    fully oracle-replayable."""
    from npm_mirror_spark.operators.classifier import calibration_bins

    docs = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.col("text").contains("spark").cast("int").alias("label"),
    )
    return calibration_bins(docs, "score", "label", bins=10).orderBy("bin")


def q_pr_curve(spark, sf_dir):
    """Exact precision-recall curve (one row per distinct threshold,
    cumulative integer confusion via a descending running sum over the
    grouped score axis — counts shuffle, rows never do;
    operators/classifier.py::pr_curve). Same deterministic doc-length
    scorer + keyword label as q_classifier_eval, so the whole curve
    hash-matches: precision/recall are single exact divisions of
    integers."""
    from npm_mirror_spark.operators.classifier import pr_curve

    docs = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.col("text").contains("spark").cast("int").alias("label"),
    )
    return pr_curve(docs, "score", "label")


def q_corpus_report(spark, sf_dir):
    """Dataset-card generator: the one-row corpus summary a release
    ships with — doc/token/char totals, language and source breadth,
    exact-dedup rate (distinct normalized hashes vs docs), and the
    Gopher-gate pass count — in ONE pass over the corpus (every metric
    is a partial-aggregable expression; the global agg reduces one row
    per task). Exact integers only, so the oracle (which wraps the
    q_gopher_rules SQL as a CTE) hash-matches."""
    g = text_ops.gopher_rules(_t(spark, sf_dir, "documents"), "text")
    return g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct(dedup_ops.text_hash("text")).cast("long").alias(
            "n_unique_texts"
        ),
        F.sum(F.col("keep").cast("long")).alias("n_gopher_pass"),
    )


def q_pagerank(spark, sf_dir):
    """PageRank over the DUPLICATION graph (MinHash/LSH candidate pairs,
    both directions): centrality ranks template/boilerplate carriers —
    hub documents near-duplicating many others — a curation signal the
    raw pair list doesn't expose. Third oracle-checked ITERATIVE
    algorithm beside q_kmeans and q_dedup_keepset: ranks are scaled
    int64 (1e-12 units) and every step is integer div/sum, so the
    oracle's three unrolled relational rounds are bit-identical
    (operators/graph.py determinism contract)."""
    from npm_mirror_spark.operators.graph import pagerank

    pairs = dedup_ops.minhash_candidate_pairs(
        _docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # raw pairs: the operator symmetrizes internally (pre-expanding
    # would double every degree and shift the integer floors)
    return pagerank(pairs, n_iter=3)


def q_pagerank_directed(spark, sf_dir):
    """Directed PageRank with dangling-mass handling
    (operators/graph.py:pagerank_directed) over the dup-ATTRIBUTION
    graph: each MinHash candidate pair becomes one arc from the
    higher-id doc (the injected copy) to the lower-id doc (its
    original), so rank flows toward originals and every component's
    minimum-id node is a genuine dangling sink (no out-arc) — the case
    the undirected operator refuses and this one redistributes via a
    per-round singleton aggregate. Same scaled-int64 determinism
    contract as q_pagerank; the oracle unrolls the rounds WITH the
    dangling fold."""
    from npm_mirror_spark.operators.graph import pagerank_directed

    arcs = dedup_ops.minhash_candidate_pairs(
        _docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    return pagerank_directed(arcs, n_iter=3)


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


def q_jaccard_exact(spark, sf_dir):
    """EXACT similarity join (operators/dedup.py:jaccard_pairs_exact):
    every pair with shingle Jaccard >= 0.5 over the dup-injected
    corpus, by AllPairs prefix filtering (Bayardo et al.) — lossless
    by the prefix pigeonhole, no LSH false negatives, candidates keyed
    on each doc's RAREST shingles so boilerplate hubs never form a hot
    bucket. The oracle computes the same pair set from first
    principles (full co-shingle intersection counts), which is exactly
    the losslessness claim made checkable."""
    return dedup_ops.jaccard_pairs_exact(
        _docs_with_dups(spark, sf_dir), "text", "doc_id",
        threshold=0.5, shingle_n=3,
    ).orderBy("id_a", "id_b")


def q_record_linkage(spark, sf_dir):
    """Fellegi–Sunter record linkage (operators/linkage.py): match
    suppliers to customers with no shared key — nation-blocked equi
    join (the only corpus shuffle; never a cross product), integer
    agree/disagree weights over a name-number edit-distance rule and
    an account-balance proximity rule, then best-match-per-supplier
    argmax (score desc, custkey tiebreak). The structured-data sibling
    of the text-dedup family; every comparator is a JVM expression, so
    the score replays relationally in the oracle."""
    from npm_mirror_spark.operators.linkage import link_records

    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.substring_index("s_name", "#", -1).alias("s_num"),
        "s_nationkey",
        "s_acctbal",
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.substring_index("c_name", "#", -1).alias("c_num"),
        "c_nationkey",
        "c_acctbal",
    )
    out = link_records(
        s,
        c,
        block_on=[("s_nationkey", "c_nationkey")],
        rules=[
            ("num", "s_num", "c_num", "levenshtein", 2, 5, -3),
            ("bal", "s_acctbal", "c_acctbal", "absdiff", 100.0, 2, -1),
        ],
        min_score=4,
        a_id="s_suppkey",
        tie_cols=["c_custkey"],
    )
    return out.select(
        "s_suppkey", "c_custkey", "m_num", "m_bal", "score"
    ).orderBy("s_suppkey")


def q_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient
    (operators/graph.py:triangle_counts) over the CO-PURCHASE graph:
    parts are connected when some order contains both. Triangles are
    part triples pairwise co-purchased — the community/affinity signal
    behind recommendation and boilerplate-cluster analysis. The
    degree-ordered orientation bounds every wedge reducer at
    O(sqrt(2m)) rows regardless of hub parts (Suri & Vassilvitskii
    WWW'11); the oracle replays the canonicalization, orientation,
    wedge join and closure semi-join relationally — exact integers plus
    one IEEE division for the coefficient.  Edge building rides
    basket_pairs with its max_basket=64 guard (graph.py): baskets above
    the cap are dropped whole before the per-basket self-join, so the
    face can never go quadratic on an adversarial basket (TPC-H baskets
    are <= 7, so the fixture result — and the oracle — is unchanged)."""
    from npm_mirror_spark.operators.graph import basket_pairs, triangle_counts

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        # deterministic 1/5 order slice: wedge volume grows ~m^1.5, so
        # the registered face bounds the basket count; the operator
        # itself carries the full-scale orientation bound.  The FULL
        # graph gets its own registered face as the q_triangle_est
        # wedge-sampling estimator.
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return triangle_counts(edges).orderBy("id")


def q_triangle_est(spark, sf_dir):
    """FULL-graph triangle count by deterministic wedge sampling
    (operators/graph.py:triangle_count_sampled): the face q_triangles'
    1/5 basket slice cannot give — the whole co-purchase graph's
    triangle total, estimated by counting triangles whose unique
    orientation center lands in the md5(seed':'id)%5==0 vertex sample
    and scaling by 5 (unbiased: each triangle has exactly one center
    under degree-ordered orientation).  The wedge self-join runs on
    sampled-center out-edges only (~1/5 of the full wedge volume); the
    closure semi-join stays full.  Exact integers end to end, so the
    oracle replays bit-for-bit.  Edges ride the max_basket=64 guard."""
    from npm_mirror_spark.operators.graph import basket_pairs, triangle_count_sampled

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return triangle_count_sampled(edges, rate_den=5, seed=8)


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


def q_winsorized_mean(spark, sf_dir):
    """Robust per-source length statistics: the mean of doc lengths
    AFTER clipping to the corpus-global exact [p05, p95] — the
    outlier-resistant center a plain mean loses to one pathological
    document.  The clip bounds are exact rank statistics (value at
    rank ceil(p*N)) read off the distinct-value collapse with
    strictly-prior counts — the same bucketed two-level prefix as
    q_quantile_norm, so no single-reducer value axis; the bounds then
    broadcast as one row and the clipped mean folds in exact decimal
    with ONE division per source."""
    from npm_mirror_spark.operators.classifier import _with_prior_sums

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    pri = _with_prior_sums(g, "n_chars", ("cnt",))
    total = d.agg(F.count(F.lit(1)).alias("__n"))
    ranked = pri.crossJoin(F.broadcast(total))

    def rank_value(num, den, alias):
        # value at 1-based rank ceil(num/den * N): below < r <= below+cnt
        r = F.ceil(F.col("__n") * F.lit(num) / F.lit(den))
        return (
            ranked.where(
                (F.col("__prior_cnt") < r)
                & (r <= F.col("__prior_cnt") + F.col("cnt"))
            )
            .agg(F.min("n_chars").alias(alias))
        )

    bounds = rank_value(5, 100, "p05").crossJoin(rank_value(95, 100, "p95"))
    clipped = d.crossJoin(F.broadcast(bounds)).select(
        "source",
        F.least(F.greatest(F.col("n_chars"), F.col("p05")), F.col("p95"))
        .cast("decimal(18,0)")
        .alias("__c"),
        "p05",
        "p95",
    )
    return (
        clipped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__c").alias("__s"),
            F.min("p05").alias("p05"),
            F.min("p95").alias("p95"),
        )
        .select(
            "source",
            "n_docs",
            (F.col("__s").cast("double") / F.col("n_docs").cast("double"))
            .alias("wins_mean"),
            "p05",
            "p95",
        )
        .orderBy("source")
    )


def q_quantile_norm(spark, sf_dir):
    """Global quantile (mid-rank) normalization: every document's
    length mapped to its exact position in the CORPUS length
    distribution, q_norm = (2*below + ties) / (2*N) — the
    distribution-alignment transform that makes per-source scores
    comparable before mixing (a source's '90th percentile doc' means
    the same thing everywhere).  Exact rational: below/ties are
    integer counts off the distinct-value collapse, one IEEE division
    per row.  The strictly-prior counts come from the classifier's
    _with_prior_sums two-level bucketed prefix (every window bounded
    by the __bkt range key — no single-reducer distinct-value axis),
    then join back value-keyed to the full corpus."""
    from npm_mirror_spark.operators.classifier import _with_prior_sums

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    pri = _with_prior_sums(g, "n_chars", ("cnt",)).select(
        "n_chars", "cnt", F.col("__prior_cnt").alias("__below")
    )
    total = d.agg(F.count(F.lit(1)).alias("__n"))
    return (
        d.join(pri, "n_chars")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            "n_chars",
            (
                (F.lit(2) * F.col("__below") + F.col("cnt")).cast("double")
                / (F.lit(2.0) * F.col("__n").cast("double"))
            ).alias("q_norm"),
        )
        .orderBy("doc_id")
    )


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


def q_edit_join(spark, sf_dir):
    """Fuzzy similarity join under edit distance <= 1
    (operators/dedup.py:edit1_join, the FastSS deletion-neighborhood
    scheme): every customer-name pair one typo apart, found via an
    EQUI-join on {self} ∪ {single-deletions} keys with a Levenshtein
    verify — never a cross join.  The entity-resolution primitive
    MinHash can't provide (shingle sets of near-identical short strings
    are too coarse); complements q_record_linkage's blocked scoring.
    len+1 key rows per string; DuckDB replays the identical
    neighborhood join + levenshtein."""
    from npm_mirror_spark.operators.dedup import edit1_join

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return edit1_join(c, "c_name", "c_custkey").orderBy("id_a", "id_b")


def q_edit2_join(spark, sf_dir):
    """Fuzzy similarity join under edit distance <= 2
    (operators/dedup.py:edit2_join, depth-2 FastSS deletion
    neighborhoods): every customer-name pair within two typos INSIDE a
    blocking key (nation 7) — linkage practice blocks on a coarse
    partition key before fuzzy comparison (the q_record_linkage
    discipline), which also keeps the independent brute-force oracle
    (O(block^2) levenshtein, never run by Spark) honest.  Radius 2
    catches the transposition-plus-typo pairs radius 1 misses;
    1 + len + len(len-1)/2 keys per string, equi-join + one exact
    verify — never all-pairs on the Spark side."""
    from npm_mirror_spark.operators.dedup import edit2_join

    c = _t(spark, sf_dir, "customer")
    blocked = c.filter(F.col("c_nationkey") == 7).select(
        "c_custkey", "c_name"
    )
    return edit2_join(blocked, "c_name", "c_custkey").orderBy(
        "id_a", "id_b"
    )


def q_token_drift(spark, sf_dir):
    """Distributional token drift: each source's unigram distribution
    vs the whole corpus, as EXACT total-variation distance — the
    which-source-deviates-most check a training-mix owner runs before
    reweighting (the drift family's lexical face, where q_drift_report
    watches numeric columns).

    The float trap and its exact-rational fix: TV = 1/2 Σ_t |c_t/T_s −
    C_t/T| naively sums doubles in shuffle order (non-deterministic,
    engine-divergent).  Instead the numerator is the INTEGER
    Σ|c_t·T − C_t·T_s| — and absent-token mass needs no dense
    source×vocab cross: Σ_{t∉s} C_t·T_s = (T − Σ_{t∈s} C_t)·T_s, so
    everything folds from the present-token join alone.  Decimal(38,0)
    products/sums (c·T ≤ ~1e24 at 100 TB — fits), ONE IEEE division
    per source at the end; DuckDB replays via HUGEINT.  Shuffles:
    token explode → (source,tok) count, token-keyed global-count join,
    broadcast |sources|-row totals."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(text_ops.ws_tokens("text")).alias("tok")
    ).where(F.col("tok") != "")
    per = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    glob = per.groupBy("tok").agg(F.sum("c").alias("gc"))
    ts = per.groupBy("source").agg(F.sum("c").alias("ts"))
    tt = ts.agg(F.sum("ts").alias("tt"))

    def dec(c):
        return c.cast("decimal(19,0)")

    j = (
        per.join(glob, "tok")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tt))
    )
    term = F.abs(
        dec(F.col("c")) * dec(F.col("tt")) - dec(F.col("gc")) * dec(F.col("ts"))
    )
    a = j.groupBy("source").agg(
        F.sum(term).alias("__a"),
        F.sum(F.col("gc").cast("decimal(38,0)")).alias("__presc"),
        F.min("ts").alias("__ts"),
        F.min("tt").alias("__tt"),
    )
    num = F.col("__a") + (
        (dec(F.col("__tt")) - F.col("__presc")) * dec(F.col("__ts"))
    )
    return a.select(
        "source",
        F.col("__ts").cast("long").alias("n_tokens"),
        (
            num.cast("double")
            / (
                F.lit(2.0)
                * F.col("__ts").cast("double")
                * F.col("__tt").cast("double")
            )
        ).alias("tv"),
    ).orderBy("source")


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


def q_assoc_rules(spark, sf_dir):
    """Association rules over co-purchased part pairs: support,
    confidence and LIFT — the log-free association measures (PMI's
    exact-rational sibling), all integer counts closed by one IEEE
    division each. The pair/item count shuffles are the market-basket
    economics of q_event_cooccurrence; the 1-row basket-count frame
    broadcasts; top-50 by lift with a total-order tiebreak. Exactly
    replayable end to end.  The whole computation — pair, item and
    basket counts alike — runs on the max_basket=64-guarded basket set
    (graph.py:drop_oversized_baskets), so support/confidence stay
    mutually consistent and one adversarial basket can never go
    quadratic (TPC-H baskets are <= 7: fixture result and oracle
    unchanged)."""
    from npm_mirror_spark.operators.graph import drop_oversized_baskets

    li = drop_oversized_baskets(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        "l_orderkey",
        max_basket=64,
    )
    # ONE basket-key exchange feeds every consumer (r14): n, item and
    # BOTH pair-join sides read the same repartition exchange via
    # ReuseExchange, so the guard pipeline (distinct + size aggregate +
    # anti join) evaluates once instead of four times; the shuffle-hash
    # pin keeps the planner off the broadcast path that would rebuild
    # the lineage on the build side (the basket_pairs rationale —
    # guide §2.4, §3.1).  Values are unchanged: same rows, same
    # aggregates, only the exchange placement moves.
    li = li.repartition("l_orderkey")
    n = li.agg(F.count_distinct("l_orderkey").alias("__n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    # pair join inline on the ALREADY-guarded set (basket_pairs would
    # re-run the guard aggregate for nothing)
    x, y = li.alias("x"), li.hint("shuffle_hash").alias("y")
    pair = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    out = (
        pair.join(
            item.select(F.col("l_partkey").alias("a"), F.col("c").alias("c_a")),
            "a",
        )
        .join(
            item.select(F.col("l_partkey").alias("b"), F.col("c").alias("c_b")),
            "b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            (F.col("c_ab").cast("double") / F.col("__n").cast("double")).alias(
                "support"
            ),
            (F.col("c_ab").cast("double") / F.col("c_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("c_ab") * F.col("__n")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "a", "b").limit(50)


def q_kcore(spark, sf_dir):
    """k-core peeling (operators/graph.py:kcore) over the same
    co-purchase graph as q_triangles: three fixed peels at k=20 strip
    stars/chains and leave the mutually-dense part-affinity core —
    the community-vs-hub separation PageRank alone can't make. Fixed
    rounds keep one lazy plan and make the fourth unrolled-iteration
    oracle (after PageRank, k-means, components); per round one degree
    count + two key-only semi-joins. q_kcore returns the surviving
    nodes with their subgraph degrees.  Edges ride basket_pairs with
    its max_basket=64 guard (graph.py) — the quadratic-basket
    protection shared with q_triangles; TPC-H baskets are <= 7, so the
    oracle is unchanged."""
    from npm_mirror_spark.operators.graph import basket_pairs, kcore

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return kcore(edges, k=20, n_rounds=3).orderBy("id")


def q_communities(spark, sf_dir):
    """Community detection (operators/graph.py:label_propagation) over
    the sliced co-purchase graph of q_triangles/q_kcore: two
    synchronous min-tiebreak label-propagation rounds assign every part
    the smallest id of its densest neighborhood — the mesoscale
    template-family view between components ("connected at all") and
    k-core ("mutually dense").  Deterministic by construction
    (synchronous rounds, min-label ties), so the oracle unrolls both
    rounds relationally — the sixth unrolled-iteration oracle after
    pagerank/kmeans/components/kcore.  Edges ride the max_basket=64
    guard."""
    from npm_mirror_spark.operators.graph import basket_pairs, label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return label_propagation(edges, n_rounds=2).orderBy("id")


def q_pagerank_seeded(spark, sf_dir):
    """Personalized PageRank (operators/graph.py:pagerank_personalized)
    over the dup-attribution arcs of q_pagerank_directed, restarted on
    the id%10==0 seed nodes: rank becomes proximity-to-the-seeds
    (similarity expansion around chosen templates) instead of global
    centrality. Teleport AND dangling mass return only to seeds via a
    node-sized membership flag; same scaled-int64 contract, fifth
    unrolled-iteration oracle."""
    from npm_mirror_spark.operators.graph import pagerank_personalized

    # lazily checkpointed (r14): the seed lineage below and the
    # operator's internal edge persist otherwise EACH evaluate the full
    # LSH candidate pipeline from parquet — one truncation point makes
    # both consumers read the same materialized arc blocks (guide §2.4)
    arcs = dedup_ops.minhash_candidate_pairs(
        _docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        arcs.select(F.col("src").alias("id"))
        .unionByName(arcs.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = nodes.where(F.col("id") % 10 == 0)
    return pagerank_personalized(arcs, seeds, n_iter=3).orderBy("id")


def q_vocab_growth(spark, sf_dir):
    """Vocabulary-growth (Heaps-law) meter — the measurement behind the
    BPE trainer's scale claim (docs/SCALE.md: word types grow
    sublinearly, so the type table the merge loop consumes stays
    bounded): ingest docs in doc_id order, bucket every 50 docs, and
    report the cumulative distinct-token count at each bucket. Two
    shuffles: token -> min(doc_id) (first occurrence), then bucket
    counts + a running sum over the tiny bucket axis."""
    docs = _t(spark, sf_dir, "documents")
    first_seen = (
        docs.select(
            "doc_id", F.explode(text_ops.ws_tokens("text")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_bucket = first_seen.groupBy(
        F.floor(F.col("first_doc") / 50).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket", "new_types", F.sum("new_types").over(w).alias("vocab_size")
    )


def q_embed_text(spark, sf_dir):
    """Deterministic text embeddings by the hashing trick (signed
    feature hashing / random indexing) — the learned-encoder-free
    baseline AND the plumbing twin for one: per token, one md5 digest
    yields 16 sign bytes; the doc embedding is the elementwise +-1 sum.
    Exact integer arithmetic, computed entirely IN-ROW (HOF fold, no
    shuffle, no explode-join) then posexploded to (doc_id, pos, val)
    rows; the oracle recomputes the identical digests relationally."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(text_ops.hashed_embedding("text", 16)).alias("pos", "val"),
    )


def q_url_filter(spark, sf_dir):
    """Domain blocklist gate (the C4/RefinedWeb first filter), oracle-
    checked: documents get a deterministic URL (docs.<source>.example.com
    — subdomain on purpose, so registrable-domain matching is what's
    under test), a two-domain blocklist is applied via
    curation.filter_blocked_hosts (bounded suffix expansion -> broadcast
    SEMI to an id list -> id ANTI; every join equi — see the operator
    docstring for why array_contains-vs-blocklist would be a nested
    loop), and survivors project (doc_id, url, host). The oracle replays
    host extraction and suffix semantics in SQL."""
    from npm_mirror_spark.operators.curation import filter_blocked_hosts, url_host

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://docs."), F.col("source"), F.lit(".example.com/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    blocked = spark.createDataFrame(
        [("src1.example.com",), ("src3.example.com",)], "host string"
    )
    return filter_blocked_hosts(docs, blocked).select(
        "doc_id", "url", url_host(F.col("url")).alias("host")
    )


def q_lm_bigram(spark, sf_dir):
    """Interpolated bigram-LM perplexity (KenLM-lite): the word-ORDER-
    aware upgrade of q_lm_nll — a unigram LM scores shuffled boilerplate
    and natural prose identically; the bigram term separates them
    (proven in tests/test_lm.py::test_bigram_sees_word_order...).
    Bigram extraction is IN-ROW (array zip, no shuffle); the LM tables
    are corpus aggregates joined back on (prev, cur). Docs with < 2
    tokens carry no bigram evidence and are absent (callers left-join
    and treat NULL as unscored). Rows-only like q_lm_nll (libm ln/exp);
    pure-Python value parity at 1e-12 in tests/test_lm.py."""
    return text_ops.bigram_nll(_t(spark, sf_dir, "documents"))


def q_bpe_encode(spark, sf_dir):
    """Learned-BPE tokenization of the corpus: 100 merges trained from
    the word-type table (ONE corpus shuffle; the merge loop runs on the
    bounded type table driver-side — the HF-trainer topology), then the
    whole corpus encoded map-side by an Arrow kernel with the merge
    ranks broadcast by closure. Training is bit-deterministic (exact
    integer counts, lexicographic tie-breaks) but a merge LOOP is not
    one SQL query, so this is rows-only; the Sennrich worked example,
    determinism, and the decode round-trip are pinned in
    tests/test_tokenizer.py."""
    from npm_mirror_spark.operators import tokenizer as tok_ops

    docs = _t(spark, sf_dir, "documents")
    model = tok_ops.train_bpe(docs, n_merges=100)
    return tok_ops.encode_bpe(docs, model["merges"]).select(
        "doc_id", "n_tokens"
    )


def q_lm_nll(spark, sf_dir):
    """Unigram-LM perplexity quality scoring (CCNet-style signal):
    per-doc mean negative log-likelihood + perplexity under an add-1
    unigram LM trained on the corpus itself (self-perplexity flags
    outliers). Rows-only by nature — ln/exp are libm, not IEEE-exact,
    so no cross-engine oracle exists (operators/text.py::unigram_nll
    docstring); value semantics are pinned against a pure-Python
    reference in tests/test_lm.py."""
    return text_ops.unigram_nll(_t(spark, sf_dir, "documents"))


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval, the production composition of the two arms this
    registry implements separately: BM25 (q_bm25's lexical ranking,
    top-50) fused with vector similarity (cosine vs the vec_id=0 probe,
    top-50; embeddings key the documents table) by reciprocal-rank
    fusion over the UNION of the two lists — an arm a document misses
    contributes 0, the standard RRF-over-top-N contract (q_rrf_fusion
    fuses two VECTOR rankings; this is the lexical+vector face). At
    scale each arm is already bounded (TakeOrderedAndProject / top-k
    window), so the fusion is a full-outer join of two 50-row lists —
    driver-trivial at any corpus size. Ranks are exact integers, so the
    fused doubles are bit-identical to the oracle."""
    docs = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    lex = ret_ops.bm25_topk(
        docs, ["spark", "join", "vector", "stream"], k=50
    ).select(F.col("doc_id").alias("id"), F.col("rank").alias("lex_rank"))
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    vec = sim_ops.cosine_topk(e, probe, k=50).select(
        F.col("neighbor_id").alias("id"), F.col("rank").alias("vec_rank")
    )
    fused = lex.join(vec, "id", "full_outer").select(
        "id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    top = fused.orderBy(F.desc("rrf_score"), F.asc("id")).limit(10)
    w = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    return top.withColumn("fused_rank", F.row_number().over(w))


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


# Extension (r6): eval-leakage audit, epoch shuffling, exact-replay sketches


def q_contamination_report(spark, sf_dir):
    """Per-benchmark-item leakage audit: for every held-out benchmark
    doc (every 20th doc plays the benchmark, as in q_decontaminate),
    the fraction of its word 5-grams present ANYWHERE in the corpus
    (operators/curation.py:contamination_report). The inverse direction
    of decontaminate: coverage ~1 means the item is memorizable from
    training data even when no single corpus doc holds all of it. The
    benchmark vocabulary broadcasts; corpus grams semi-join it map-side
    and only the HIT grams (bounded by that vocabulary) are ever
    shuffled."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    corpus = d.where(F.col("doc_id") % 20 != 0)
    return cur_ops.contamination_report(corpus, bench, "text", "doc_id", 5)


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic seeded epoch shuffle into training shards
    (operators/curation.py:epoch_shuffle): each doc gets a
    pseudo-random md5(epoch:id) rank, a shard by rank mod n_shards and
    a position within its shard — the bit-reproducible shard-writer
    order an LLM training pipeline re-derives every epoch with no RNG
    state to checkpoint. One hash shuffle + per-shard sort (the work of
    physically writing shard files), never a global sort."""
    d = _t(spark, sf_dir, "documents")
    return cur_ops.epoch_shuffle(d, "doc_id", epoch=3, n_shards=8)


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


_MESSY_URL = """
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN concat('HTTPS://Docs.', source, '.Example.COM:443/Page/',
                     CAST(doc_id AS STRING), '?utm_source=feed&id=',
                     CAST(doc_id AS STRING), '#sec2')
  WHEN 1 THEN concat('http://', source, '.example.com:80/a/b?x=1&utm_campaign=z&y=2')
  WHEN 2 THEN concat('https://cdn.', source, '.example.com/img/',
                     CAST(doc_id AS STRING), '?fbclid=abc&gclid=def')
  WHEN 3 THEN concat('HTTP://User:Pass@', source, '.EXAMPLE.com')
  ELSE concat('https://www.', source, '.example.com/Mixed/Case/Path?a=1&b=2')
END"""


def q_url_canon(spark, sf_dir):
    """URL canonicalization for URL-level dedup / frontier keys
    (operators/curation.py:canonicalize_url): lowercased scheme+host,
    fragment gone, default ports gone, tracking params (utm_*/fbclid/
    gclid/...) stripped with clean separators, bare authority -> '/',
    path case PRESERVED. Messy URLs are synthesized deterministically
    from doc_id (5 templates covering every rule); the whole chain is
    Java-regex/RE2-common-subset JVM expressions, zero shuffle, and the
    oracle replays each regex verbatim (the redact_pii discipline)."""
    d = _t(spark, sf_dir, "documents")
    messy = d.select("doc_id", F.expr(_MESSY_URL).alias("url"))
    canon = cur_ops.canonicalize_url("url")
    return messy.select(
        "doc_id",
        "url",
        canon.alias("canon_url"),
        cur_ops.url_host(canon).alias("host"),
    )


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split with exact integer thresholds
    (operators/curation.py:split_assign): md5(seed:id) mod 100 buckets
    90/5/5, membership a pure function of the id so later corpus growth
    never moves a document across splits. Zero shuffle (assignment) +
    one count rollup so the oracle pins the split SIZES too."""
    d = _t(spark, sf_dir, "documents")
    assigned = cur_ops.split_assign(d, "doc_id", seed=1)
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


def q_token_budget(spark, sf_dir):
    """Per-source token-budget corpus assembly
    (operators/curation.py:token_budget_select): within each source,
    docs take a deterministic md5-priority order and survive while the
    inclusive running whitespace-token total stays <= 3000 — the "N
    tokens per source" slice, reproducible across runs. One (source)
    shuffle + per-group window (the pack_sequences prefix-sum shape)."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", text_ops.ws_token_count("text")
    )
    return cur_ops.token_budget_select(
        d, "n_tokens", 3000, "source", "doc_id", seed=2
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


def q_release_cut(spark, sf_dir):
    """The flagship curation PIPELINE (not just its stages): gopher
    gate -> surgical span decontamination (release.py:cut_decontaminate
    — the exact production path build_release(decontam_mode='cut')
    runs: cut, empty-drop, seam-collision re-gate) -> per-source token
    budget. Every 20th doc plays the benchmark; output is the budgeted
    slice with the rewrite marker. The composition is what a driver row
    on the stages alone cannot certify: stage boundaries agree on
    normalization, the seam guard sees the REWRITTEN text, and the
    budget counts post-surgery tokens."""
    from npm_mirror_spark.release import cut_decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    corpus = d.where(F.col("doc_id") % 20 != 0)
    # gate as a SEMI JOIN on the keep-id set, not gopher flags carried
    # in the lineage: the cut machinery re-derives its input several
    # times per pass, and the HOF-heavy rule expressions are the most
    # expensive per-row work in the whole composition — as an id
    # semi-join (AQE broadcasts it at bench scale) they evaluate once
    keep_ids = (
        text_ops.gopher_rules(corpus, "text")
        .where(F.col("keep"))
        .select("doc_id")
    )
    # lazily checkpointed (r14, guide §3.3 plan truncation): the cut
    # machinery consumes the gated corpus three times (span explode,
    # rebuild join, rewrite join) and each consumer carried the gopher
    # HOF gate + semi join subtree into its analyzed plan — the
    # measured wall was driver planning over the duplicated tree, so
    # truncation (not a cache) is the fix; one materialization feeds
    # every consumer
    gated = corpus.join(keep_ids, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    clean = cut_decontaminate(gated, bench, "text", "doc_id", 5)
    return cur_ops.token_budget_select(
        clean.withColumn("n_tokens", text_ops.ws_token_count("text")),
        "n_tokens", 3000, "source", "doc_id", seed=2,
    ).select("doc_id", "source", "was_cut", "n_tokens", "cum_tokens")


def q_zorder(spark, sf_dir):
    """Z-order (Morton) layout audit (operators/layout.py): lineitem
    keyed by bit-interleaved (l_orderkey, l_partkey) range coordinates,
    sharded on the key's top 4 bits, reporting each shard's row count
    and per-DIMENSION min/max — the file statistics a skipping scan
    reads. The Z-order payoff is visible in the numbers: every shard is
    tight in BOTH columns, where a single-column sort is tight in one.
    One stats pass (partial min/max agg) + map-side integer key + one
    (shard) count/min/max shuffle; exact shift/mask algebra end to end,
    so the oracle replays every key bit-for-bit."""
    from npm_mirror_spark.operators.layout import zorder_shard_stats

    li = _t(spark, sf_dir, "lineitem")
    return zorder_shard_stats(
        li, ["l_orderkey", "l_partkey"], bits=16, shard_bits=4
    )


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


def q_cut_contaminated(spark, sf_dir):
    """Span-level decontamination
    (operators/curation.py:cut_contaminated_spans): benchmark-
    overlapping 5-gram spans are DELETED from corpus documents instead
    of the whole doc dying (q_decontaminate's boolean gate) — the
    surgical treatment for long docs that merely quote an eval item.
    Bench vocabulary broadcasts; per-doc island windows see only hit
    positions; bodies move once. Same bench split as q_decontaminate
    (every 20th doc plays the benchmark)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    corpus = d.where(F.col("doc_id") % 20 != 0)
    return cur_ops.cut_contaminated_spans(corpus, bench, "text", "doc_id", 5)


def q_line_filter(spark, sf_dir):
    """C4-style line-level cleaning (operators/text.py:filter_lines):
    docs are deterministically augmented with boilerplate lines (a nav
    stub, a cookie banner, a clean closing sentence, an unpunctuated
    summary) and the filter must keep exactly the lines with >=3 words,
    terminal punctuation and no blocklisted phrase — the sub-document
    sibling of the per-doc gopher gate. Pure in-row HOFs, zero
    shuffle."""
    d = _t(spark, sf_dir, "documents")
    multi = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("nav"),
            F.lit("Please accept our cookie policy to continue."),
            F.lit("This synthetic closing line ends properly."),
            F.concat(
                F.lit("Doc "),
                F.col("doc_id").cast("string"),
                F.lit(" summary line without punct"),
            ),
        ).alias("text"),
    )
    return text_ops.filter_lines(multi)


def q_dedup_lines(spark, sf_dir):
    """Intra-document repeated-line removal
    (operators/text.py:dedup_lines): docs deterministically rebuilt as
    six lines with two planted repeats (a body slice repeated verbatim
    + a doubled footer) must come back with exactly the four first
    occurrences, order preserved — the within-doc repetition pass
    corpus-level dedup and the C4 line gate both structurally miss.
    Pure in-row HOFs, zero shuffle; the oracle replays the identical
    keep-first lambda."""
    d = _t(spark, sf_dir, "documents")
    multi = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
            F.substring("text", 1, 40),
            F.lit("shared footer line"),
            F.lit("shared footer line"),
            F.substring("text", 81, 40),
        ).alias("text"),
    )
    return text_ops.dedup_lines(multi).orderBy("doc_id")


def q_containment(spark, sf_dir):
    """Asymmetric containment verification
    (operators/dedup.py:containment_pairs) over the dup-injected
    lineage pairs (original, original + ' zzzextra'): the original's
    shingle set lies fully inside the extension (c_a = 1.0) while the
    reverse direction is < 1 — the quote/subset signal Jaccard
    structurally under-scores, and the DIRECTIONAL verdict (drop the
    contained doc) symmetric similarity can't express. Only candidate
    pairs pay the set arithmetic; shingles join on id equi keys."""
    d = _t(spark, sf_dir, "documents")
    seeds = d.where(F.col("doc_id") % 11 == 0)
    ext = seeds.select(
        (F.col("doc_id") + F.lit(200000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzextra")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(ext)
    pairs = seeds.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(200000)).alias("id_b"),
    )
    return dedup_ops.containment_pairs(pairs, corpus, "doc_id", "text", 3)


def q_lang_margin(spark, sf_dir):
    """Language-ID with CONFIDENCE (operators/text.py:language_margin):
    the guess plus the winning stopword-hit count and its lead over the
    runner-up language, and the CCNet-style keep flag (enough evidence
    AND a clear margin). Thresholding on confidence — not just the
    argmax — is what production lang filters do; everything is in-row
    exact-integer expression work, zero shuffle."""
    d = _t(spark, sf_dir, "documents")
    m = text_ops.language_margin("text")
    return d.select(
        "doc_id",
        text_ops.language_id("text").alias("lang_guess"),
        m["top_hits"].alias("top_hits"),
        m["margin"].alias("margin"),
        ((m["top_hits"] >= 2) & (m["margin"] >= 1)).alias("confident"),
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


def q_rank_sum(spark, sf_dir):
    """Mann–Whitney rank-sum test (operators/stats.py:rank_sum_test):
    do English documents run longer than the rest of the corpus?
    Midrank-exact by integer doubling (2*R1, 2*U1), effect size as the
    exact AUC — one IEEE division, no sqrt/libm anywhere, so the whole
    test replays bit-for-bit.  Distinct-value collapse + the bounded
    two-level bucket prefix: no single-reducer rank window at 100 TB."""
    from npm_mirror_spark.operators.stats import rank_sum_test

    d = _t(spark, sf_dir, "documents")
    return _nodec(rank_sum_test(d, "n_chars", F.col("lang") == "en"))


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
    return _nodec(ks_2samp(d, "n_chars", F.col("lang") == "en"))


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
    return _nodec(cusum_changepoint(daily, "day", "n"))


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
    return _nodec(autocorr1_daily(daily, "day", "n"))


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


def q_collocations(spark, sf_dir):
    """Collocation mining (operators/text.py:bigram_collocations): the
    top adjacent-word bigrams by LIFT = c_xy*N/(c_x*c_y) — PMI without
    the log (identical ranking, exact-count replay; the q_tf_df
    libm-free contract).  Bigrams expand IN-ROW by HOF transform (no
    pair join); unigram lookups are word-keyed equi-joins; the 1-row
    bigram total broadcasts.  The phrase-detection pass a tokenizer
    pipeline (tokenizer.py BPE) runs before merging multiword units."""
    from npm_mirror_spark.operators.text import bigram_collocations

    d = _t(spark, sf_dir, "documents")
    return bigram_collocations(d, "text", min_count=5, top_n=50)


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
    return _nodec(
        agg.select(
            "n_name",
            "n_cust",
            "revenue_cents",
            (F.col("__num").cast("double") / (den * den)).alias("hhi"),
        ).orderBy("n_name")
    )


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
    return _nodec(spearman_rho(li, "l_quantity", "l_extendedprice"))


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


def q_chisq(spark, sf_dir):
    """Chi-square independence audit (operators/checks.py:
    chisq_independence_cells): is order status independent of order
    priority?  Reported PER CELL (3x5 bounded output) so every number
    is exact DECIMAL(38,0) or a single deterministic IEEE op — obs*N
    cross-multiplied against the margin product, never a float total.
    Three bounded groupBys + broadcast margin joins."""
    from npm_mirror_spark.operators.checks import chisq_independence_cells

    o = _t(spark, sf_dir, "orders")
    return _nodec(
        chisq_independence_cells(o, "o_orderstatus", "o_orderpriority")
    )


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
    return _nodec(cohens_kappa(pair, "lang", "lang_guess"))


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
    return _nodec(
        cochran_armitage(
            o,
            success=(F.col("o_orderstatus") == "F"),
            score=F.substring("o_orderpriority", 1, 1).cast("int"),
        )
    )


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


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/curation.py:
    leakage_safe_split): the dup-injected corpus's MinHash/LSH candidate
    pairs collapse to connected components, and the md5-mod 90/5/5
    assignment (q_split_assign's exact bucket arithmetic) keys on the
    CLUSTER label — near-duplicate documents can never straddle train
    and test, the contamination bug a per-doc split ships with.  Oracle
    replays the recursive reachability closure + the same hash."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    return cur_ops.leakage_safe_split(docs.select("doc_id"), pairs, seed=0)


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
    return _nodec(welch_t(d, "n_chars", F.col("lang") == "en"))


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
    return _nodec(kruskal_cells(d, "n_chars", "lang"))


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
    return _nodec(anova_cells(li, "qty", "l_returnflag"))




def q_hits(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.py:hits) over the
    dup-ATTRIBUTION arc graph (each MinHash candidate pair is one arc
    copy→original, the q_pagerank_directed construction): authorities
    are the originals many copies point at, hubs the docs that copy
    from many originals — a finer curation signal than PageRank's
    single score because the two roles separate.  Unnormalized integer
    iteration (the normalizer is a global scalar, rankings unchanged),
    so the two unrolled rounds replay bit-for-bit in the oracle;
    DECIMAL(38,0) accumulation, double face per the no-decimal
    contract."""
    from npm_mirror_spark.operators.graph import hits

    arcs = dedup_ops.minhash_candidate_pairs(
        _docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    return _nodec(hits(arcs, n_iter=2).orderBy("id"))


def q_bfs_hops(spark, sf_dir):
    """Multi-source BFS (operators/graph.py:bfs_hops) over the sliced
    co-purchase graph (the q_triangles edge discipline): minimum hop
    distance ≤ 3 from the deterministic seed set (every 97th part) —
    the bounded-depth blast-radius primitive (who is within k dup-hops
    of a flagged node?).  Level-synchronous frontier rounds, one
    |edges| equi-join + distinct + anti-join per hop; the oracle
    unrolls the three rounds relationally.  Exact integers."""
    from npm_mirror_spark.operators.graph import basket_pairs, bfs_hops

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    seeds = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 97 == 0)
        .select("p_partkey")
    )
    return bfs_hops(edges, seeds, max_hops=3).orderBy("id")


def q_link_pred(spark, sf_dir):
    """Common-neighbor link prediction
    (operators/graph.py:common_neighbor_scores) on the sliced
    co-purchase graph: non-adjacent part pairs sharing ≥ 2 co-purchase
    neighbors, with the neighborhood Jaccard — "frequently bought with
    the same things, never together" (Liben-Nowell & Kleinberg '03).
    Center-keyed wedge equi-join (repartitioned on the center — the
    basket_pairs exchange discipline), anti join against the edge set,
    exact counts + one IEEE division."""
    from npm_mirror_spark.operators.graph import (
        basket_pairs,
        common_neighbor_scores,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return common_neighbor_scores(edges, min_common=2).orderBy("u", "w")


def q_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graph.py:degree_assortativity)
    of the sliced co-purchase graph: the sqrt-free Pearson r between
    edge-endpoint degrees (Newman '02) — one number separating
    hub-attaches-to-hub structure (r > 0) from hub-and-spoke
    boilerplate stars (r < 0).  Two node-sized degree joins + one
    4-column moment fold; both orientations make the moment sums
    symmetric, so r needs no sqrt: exact DECIMAL(38,0) num/den, one
    IEEE division."""
    from npm_mirror_spark.operators.graph import (
        basket_pairs,
        degree_assortativity,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return _nodec(degree_assortativity(edges))




def q_systematic_sample(spark, sf_dir):
    """Token-proportional systematic sample
    (operators/curation.py:systematic_sample_by_weight): walk documents
    in doc_id order, keep exactly the rows whose cumulative n_chars
    crosses a 20k-char boundary — a deterministic
    probability-proportional-to-size subset where a uniform row sample
    (q_hash_sample) would underrepresent heavyweight docs.  Exact
    integer division on the bounded two-level prefix; the oracle
    replays the cumulative walk with a window."""
    from npm_mirror_spark.operators.curation import systematic_sample_by_weight

    d = _t(spark, sf_dir, "documents")
    return systematic_sample_by_weight(d, "doc_id", "n_chars", step=20000)


def q_lexical_diversity(spark, sf_dir):
    """Per-source lexical-diversity audit
    (operators/text.py:lexical_diversity_by): types, tokens, hapax
    legomena, TTR and hapax share over normalized whitespace tokens —
    the corpus-health panel catching boilerplate floods (TTR collapse)
    and noise floods (hapax explosion).  One explode + one
    (source, token) collapse + per-source fold; exact ints + two IEEE
    divisions; the oracle replays the shingle-family normalization."""
    from npm_mirror_spark.operators.text import lexical_diversity_by

    d = _t(spark, sf_dir, "documents")
    return lexical_diversity_by(d, "text", "source")




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
    return _nodec(poisson_bootstrap_mean(d, "doc_id", "n_chars", 32))


def q_gini_split(spark, sf_dir):
    """Best decision-stump threshold on document length for the
    is-English label (operators/classifier.py:gini_best_split): the
    exact CART root-node computation — inclusive cumulative class
    counts over the distinct-length axis (bounded two-level prefix),
    each split's weighted Gini an exact-integer-fed fixed IEEE
    sequence, argmin via deterministic (cost, threshold) struct-min.
    The one-feature separability audit a quality-signal pipeline runs
    before trusting a threshold rule."""
    from npm_mirror_spark.operators.classifier import gini_best_split

    d = _t(spark, sf_dir, "documents")
    return _nodec(gini_best_split(d, "n_chars", F.col("lang") == "en"))




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
    return _nodec(binseg_changepoint(daily, "day", "n"))


# ---------------------------------------------------------------------------
# Registry + oracles
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- driver window: the driver checks the FIRST 50 entries ---------
    # slots 1-27: pinned §2-mapped operators (driver-green since r01/r02)
    "q_scan_project": q_scan_project,
    "q_json_decode": q_json_decode,
    "q_regex_clean": q_regex_clean,
    "q_split_last": q_split_last,
    "q_prefix_bucket": q_prefix_bucket,
    "q_ts_parse": q_ts_parse,
    "q_normalize": q_normalize,
    "q_flag_route": q_flag_route,
    "q_filter_notnull": q_filter_notnull,
    "q_filter_size": q_filter_size,
    "q_argmax_latest": q_argmax_latest,
    "q_mirror_record": q_mirror_record,
    "q_retention_topn": q_retention_topn,
    "q_retention_gc": q_retention_gc,
    "q_retention_tombstone": q_retention_tombstone,
    "q_count_events": q_count_events,
    "q_max_seq": q_max_seq,
    "q_lag": q_lag,
    "q_union_logs": q_union_logs,
    "q_anti_join": q_anti_join,
    "q_enrich_join": q_enrich_join,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_norm": q_dedup_norm,
    "q_minhash_pairs": q_minhash_pairs,
    "q_cosine_topk": q_cosine_topk,
    "q_text_stats": q_text_stats,
    "q_approx_stats": q_approx_stats,
    # NOTE (r9): this dict literal is in REGISTRATION order only — it no
    # longer encodes the driver window.  The reorder at the end of the
    # module makes the first 50 entries exactly PINNED_27 + WINDOW_TAIL;
    # rotations edit ONLY WINDOW_TAIL.
    # (r8-window occupants below were driver-green in CORRECTNESS_r08.)
    "q_cut_contaminated": q_cut_contaminated,
    "q_line_filter": q_line_filter,
    "q_containment": q_containment,
    "q_lang_margin": q_lang_margin,
    "q_binned_quantiles": q_binned_quantiles,
    "q_pagerank_directed": q_pagerank_directed,
    "q_release_cut": q_release_cut,
    "q_zorder": q_zorder,
    "q_quality_checks": q_quality_checks,
    "q_skew_report": q_skew_report,
    "q_join_size_est": q_join_size_est,
    "q_temperature_sample": q_temperature_sample,
    "q_hll_setops": q_hll_setops,
    "q_triangles": q_triangles,
    "q_hll_by_group": q_hll_by_group,
    "q_record_linkage": q_record_linkage,
    "q_jaccard_exact": q_jaccard_exact,
    "q_quantiles_by_group": q_quantiles_by_group,
    "q_drift_report": q_drift_report,
    "q_kcore": q_kcore,
    "q_trend_by_group": q_trend_by_group,
    "q_quantile_bins": q_quantile_bins,
    "q_calibration": q_calibration,
    # --- below the driver window: covered by tests/test_oracle_parity ---
    # r7 window occupants (driver-green in CORRECTNESS_r07) rotate down;
    # then earlier-round occupants; the remaining never-checked queue
    # (6 youngest r7 additions + anything r8-new) sits last awaiting the
    # r9 rotation.
    "q_temperature_mix": q_temperature_mix,
    "q_dup_ngram_fraction": q_dup_ngram_fraction,
    "q_dup_spans": q_dup_spans,
    "q_cut_dup_spans": q_cut_dup_spans,
    "q_bloom_new_customers": q_bloom_new_customers,
    "q_lm_nll": q_lm_nll,
    "q_hybrid_search": q_hybrid_search,
    "q_quality_classifier": q_quality_classifier,
    "q_bpe_encode": q_bpe_encode,
    "q_lm_bigram": q_lm_bigram,
    "q_url_filter": q_url_filter,
    "q_embed_text": q_embed_text,
    "q_vocab_growth": q_vocab_growth,
    "q_corpus_report": q_corpus_report,
    "q_classifier_eval": q_classifier_eval,
    "q_pr_curve": q_pr_curve,
    "q_contamination_report": q_contamination_report,
    "q_epoch_shuffle": q_epoch_shuffle,
    "q_count_min": q_count_min,
    "q_hll_replay": q_hll_replay,
    "q_url_canon": q_url_canon,
    "q_split_assign": q_split_assign,
    "q_token_budget": q_token_budget,
    "q_corpus_diff": q_corpus_diff,
    "q_quality_percentile_filter": q_quality_percentile_filter,
    "q_rolling_hour": q_rolling_hour,
    "q_profile": q_profile,
    "q_large_order_customers": q_large_order_customers,
    "q_shipping_priority": q_shipping_priority,
    "q_local_supplier_volume": q_local_supplier_volume,
    "q_window_funcs": q_window_funcs,
    "q_session_stats": q_session_stats,
    "q_asof_plain": q_asof_plain,
    "q_cap_per_source": q_cap_per_source,
    "q_source_overlap": q_source_overlap,
    "q_event_transitions": q_event_transitions,
    "q_variant_decode": q_variant_decode,
    "q_cluster_split": q_cluster_split,
    "q_kmeans": q_kmeans,
    "q_pagerank": q_pagerank,
    "q_ann_ivf_trained": q_ann_ivf_trained,
    "q_srp_pairs": q_srp_pairs,
    "q_bm25": q_bm25,
    "q_ann_pq": q_ann_pq,
    "q_ann_sq8": q_ann_sq8,
    "q_minhash_recall": q_minhash_recall,
    "q_new_users_daily": q_new_users_daily,
    "q_group_percentiles": q_group_percentiles,
    "q_event_cooccurrence": q_event_cooccurrence,
    "q_extract_mentions": q_extract_mentions,
    "q_corr_moments": q_corr_moments,
    "q_sliding_window": q_sliding_window,
    "q_last_touch": q_last_touch,
    "q_doc_rarity": q_doc_rarity,
    "q_nation_profit": q_nation_profit,
    "q_revenue_share": q_revenue_share,
    "q_order_size_dist": q_order_size_dist,
    "q_top_supplier_revenue": q_top_supplier_revenue,
    "q_overstock_suppliers": q_overstock_suppliers,
    "q_customer_order_dist": q_customer_order_dist,
    "q_valuable_parts": q_valuable_parts,
    "q_waiting_orders": q_waiting_orders,
    "q_order_gap_stats": q_order_gap_stats,
    "q_dup_rate_by_source": q_dup_rate_by_source,
    "q_pack_blocks": q_pack_blocks,
    "q_length_histogram": q_length_histogram,
    "q_chunk_tokens": q_chunk_tokens,
    "q_dup_cluster_sizes": q_dup_cluster_sizes,
    "q_compress_ratio": q_compress_ratio,
    "q_user_event_history": q_user_event_history,
    "q_sessionize": q_sessionize,
    "q_range_join": q_range_join,
    "q_gopher_rules": q_gopher_rules,
    "q_decontaminate": q_decontaminate,
    "q_redact_pii": q_redact_pii,
    "q_pack_sequences": q_pack_sequences,
    "q_gap_fill": q_gap_fill,
    "q_cohort_retention": q_cohort_retention,
    "q_forecast_revenue": q_forecast_revenue,
    "q_rrf_fusion": q_rrf_fusion,
    "q_best_supplier": q_best_supplier,
    "q_dedup_keepbest": q_dedup_keepbest,
    "q_edit_distance": q_edit_distance,
    "q_blob_stats": q_blob_stats,
    "q_heavy_hitters": q_heavy_hitters,
    "q_stratified_sample": q_stratified_sample,
    "q_funnel": q_funnel,
    "q_hash_sample": q_hash_sample,
    "q_zscore_outliers": q_zscore_outliers,
    "q_mad": q_mad,
    "q_weekly_growth": q_weekly_growth,
    "q_exact_percentiles": q_exact_percentiles,
    "q_dedup_keepset": q_dedup_keepset,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_simhash_pairs": q_simhash_pairs,
    "q_cosine_topk_arrow": q_cosine_topk_arrow,
    "q_cosine_dup_pairs": q_cosine_dup_pairs,
    "q_ann_ivf": q_ann_ivf,
    "q_ivf_dup_pairs": q_ivf_dup_pairs,
    "q_semdedup": q_semdedup,
    "q_ann_recall": q_ann_recall,
    "q_top_events_page": q_top_events_page,
    "q_mode_per_user": q_mode_per_user,
    "q_order_priority_check": q_order_priority_check,
    "q_small_quantity_revenue": q_small_quantity_revenue,
    "q_returned_item_revenue": q_returned_item_revenue,
    "q_nation_volume": q_nation_volume,
    "q_market_share": q_market_share,
    "q_priority_lines": q_priority_lines,
    "q_promo_revenue": q_promo_revenue,
    "q_supplier_part_count": q_supplier_part_count,
    "q_disjunctive_revenue": q_disjunctive_revenue,
    "q_idle_rich_customers": q_idle_rich_customers,
    "q_cube_counts": q_cube_counts,
    "q_rank_family": q_rank_family,
    "q_set_ops": q_set_ops,
    "q_quality_score": q_quality_score,
    "q_lang_id": q_lang_id,
    "q_token_count": q_token_count,
    "q_fingerprint": q_fingerprint,
    "q_window_counts": q_window_counts,
    "q_tpch_pricing": q_tpch_pricing,
    "q_revenue_by_customer": q_revenue_by_customer,
    "q_centroids": q_centroids,
    "q_salted_counts": q_salted_counts,
    "q_region_rollup": q_region_rollup,
    "q_quality_filter": q_quality_filter,
    "q_tf_df": q_tf_df,
    "q_semi_join": q_semi_join,
    "q_grouping_rollup": q_grouping_rollup,
    "q_running_total": q_running_total,
    "q_pivot_counts": q_pivot_counts,
    "q_asof_join": q_asof_join,
    "q_unpivot": q_unpivot,
    # never-driver-checked queue remainder — r9 rotation candidates
    # (the 6 r7 entries the r8 window could not fit, oldest first;
    # r8-new queries append below)
    "q_pagerank_seeded": q_pagerank_seeded,
    "q_assoc_rules": q_assoc_rules,
    "q_drift_weekly": q_drift_weekly,
    "q_seasonal_outliers": q_seasonal_outliers,
    "q_weighted_median": q_weighted_median,
    "q_source_gini": q_source_gini,
    # r8 additions (never driver-checked yet)
    "q_triangle_est": q_triangle_est,
    "q_validated_batch": q_validated_batch,
    "q_communities": q_communities,
    "q_token_drift": q_token_drift,
    "q_edit_join": q_edit_join,
    "q_decay_counts": q_decay_counts,
    "q_luhn_scan": q_luhn_scan,
    "q_hll_weekly": q_hll_weekly,
    "q_dedup_lines": q_dedup_lines,
    "q_quantile_norm": q_quantile_norm,
    "q_fk_audit": q_fk_audit,
    "q_winsorized_mean": q_winsorized_mean,
    "q_kmv_distinct": q_kmv_distinct,
    "q_benford": q_benford,
    "q_rank_sum": q_rank_sum,
    "q_ks_stat": q_ks_stat,
    "q_cusum": q_cusum,
    "q_autocorr": q_autocorr,
    "q_interval_coverage": q_interval_coverage,
    "q_collocations": q_collocations,
    "q_hhi": q_hhi,
    "q_simpson": q_simpson,
    "q_fd_violations": q_fd_violations,
    "q_skyline": q_skyline,
    # r9 additions (never driver-checked yet): the five r8-written
    # stat/audit operators, wired per the r8 verdict (item 2)
    "q_spearman": q_spearman,
    "q_runs_test": q_runs_test,
    "q_mann_kendall": q_mann_kendall,
    "q_kanonymity": q_kanonymity,
    "q_chisq": q_chisq,
    "q_edit2_join": q_edit2_join,
    # r10 additions (never driver-checked yet): robust/agreement stats,
    # the leakage-safe split, and the two-pass heavy-hitter pattern
    "q_theilsen": q_theilsen,
    "q_kappa": q_kappa,
    "q_cochran_armitage": q_cochran_armitage,
    "q_mad_outliers": q_mad_outliers,
    "q_leakage_split": q_leakage_split,
    "q_hh_twopass": q_hh_twopass,
    "q_mcnemar": q_mcnemar,
    # --- r10 late batch: stats tier 3 (queued for the r11 window) ------
    "q_welch_t": q_welch_t,
    "q_kruskal": q_kruskal,
    "q_kendall_tau": q_kendall_tau,
    "q_anova_cells": q_anova_cells,
    # --- r10 late batch: graph tier 2 (queued for the r11 window) ------
    "q_hits": q_hits,
    "q_bfs_hops": q_bfs_hops,
    "q_link_pred": q_link_pred,
    "q_assortativity": q_assortativity,
    # --- r10 late batch: sampling/text (queued for the r11 window) -----
    "q_systematic_sample": q_systematic_sample,
    "q_lexical_diversity": q_lexical_diversity,
    "q_poisson_bootstrap": q_poisson_bootstrap,
    "q_gini_split": q_gini_split,
    "q_changepoint": q_changepoint,
}

# --- Driver window: single source of truth (r8 verdict item 1) ------------
# The grading driver checks exactly ``list(QUERIES)[:50]``.  A rotation
# edits ONLY ``WINDOW_TAIL`` below; the dict literal above stays in
# registration order (which defines never-checked-queue order), and the
# reorder at the end of this module (after the family-face merge) makes
# the dict head equal to ``DRIVER_WINDOW``.  tests/test_sql_surface.py, tests/
# test_registry_invariants.py and docs/DRIVER_WINDOW.md all consume these
# lists, so a rotation commit can no longer desync the pin test from the
# registry (the r8 lesson: the rotation landed without updating the pin).

#: Slots 1-27 — the SURVEY §2-mapped reference-parity core; never rotates.
PINNED_27: tuple[str, ...] = (
    "q_scan_project", "q_json_decode", "q_regex_clean", "q_split_last",
    "q_prefix_bucket", "q_ts_parse", "q_normalize", "q_flag_route",
    "q_filter_notnull", "q_filter_size", "q_argmax_latest",
    "q_mirror_record", "q_retention_topn", "q_retention_gc",
    "q_retention_tombstone", "q_count_events", "q_max_seq", "q_lag",
    "q_union_logs", "q_anti_join", "q_enrich_join", "q_dedup_exact",
    "q_dedup_norm", "q_minhash_pairs", "q_cosine_topk", "q_text_stats",
    "q_approx_stats",
)

#: Slots 28-50 (r14 rotation): the 13 r13-STAGED faces registered this
#: round (registered straight into the window they open in, per the
#: register-into-window-only hard rule), then the 10 oldest rows from the
#: last-driver-checked ledger: the last 10 of the r03 block, in
#: registration order (r13 verdict item 1 names exactly this tail).
#: All 23 tail rows are oracle-backed; the only rows-only entry in this
#: window is the pinned ``q_approx_stats``.
WINDOW_TAIL: tuple[str, ...] = (
    "q_somers_d", "q_tau_c", "q_fleiss_kappa", "q_weighted_kappa",
    "q_bowker", "q_signed_rank", "q_cvm2", "q_cox_stuart",
    "q_seasonal_mk", "q_buishand", "q_nelson_aalen", "q_gehan",
    "q_yule_k",
    "q_nation_volume", "q_market_share", "q_priority_lines",
    "q_promo_revenue", "q_supplier_part_count",
    "q_disjunctive_revenue", "q_idle_rich_customers",
    "q_cube_counts", "q_rank_family", "q_set_ops",
)

DRIVER_WINDOW: tuple[str, ...] = PINNED_27 + WINDOW_TAIL

# Shared SQL fragments for the DuckDB oracles ------------------------------

_NORM = faces.NORM

_SHINGLES = f"""
norm AS (SELECT doc_id, {_NORM} AS t FROM {{src}}),
w AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM norm),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 3
    THEN list_transform(generate_series(1, len(w)-2),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE [t] END AS shingles
  FROM w)
"""

def _shingles_sql(src: str, n: int) -> str:
    """norm/w/sh CTEs for arbitrary word n-gram size (the trigram
    _SHINGLES above predates this and is kept verbatim — its oracles'
    values must not move)."""
    return f"""
norm AS (SELECT doc_id, {_NORM} AS t FROM {src}),
w AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM norm),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= {n}
    THEN list_transform(generate_series(1, len(w)-{n - 1}),
         i -> array_to_string(list_slice(w, i, i+{n - 1}), ' '))
    ELSE [t] END AS shingles
  FROM w)"""


_DOCS_WITH_DUPS = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + 200000, text || ' zzzextra' FROM documents WHERE doc_id % 11 = 0
)
"""

_EMB_NORMED = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v,
  sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM e)
"""

_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
)

# MinHash/LSH candidate edges over the dup-injected corpus — shared by the
# q_minhash_pairs and q_dedup_keepset oracles; mirrors
# operators/dedup.py:minhash_candidate_pairs exactly.
_MINHASH_EDGES = f"""
{_DOCS_WITH_DUPS},
{_SHINGLES.format(src="docs2")},
based AS (
  SELECT doc_id,
         list_transform(shingles, x -> ('0x' || substr(md5(x),1,8))::BIGINT) AS bases
  FROM sh),
sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7),
           s -> list_min(list_transform(bases,
                  b -> ((10007 + 2*s) * b + (7919*s + 12345)) % 1000000007))) AS sig
  FROM based),
bands AS (
  SELECT doc_id, t.b AS band,
         md5(CAST(sig[t.b*2+1] AS VARCHAR) || '|' || CAST(sig[t.b*2+2] AS VARCHAR)) AS band_hash
  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(b)),
edges AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
"""

# IVF cluster assignment (centroids = vec_id%50==0, max-cosine, cid tiebreak)
# — shared by the q_ann_ivf and q_ivf_dup_pairs oracles; mirrors
# operators/similarity.py:ivf_assign exactly.
_IVF_ASSIGNED = f"""
cent AS (SELECT vec_id AS cid, v AS cv, nm AS cnm FROM n WHERE vec_id % 50 = 0),
assigned AS (
  SELECT vec_id, v, nm, cid AS cluster FROM (
    SELECT nn.vec_id, nn.v, nn.nm, c.cid,
           row_number() OVER (PARTITION BY nn.vec_id
             ORDER BY {_DOT.format(a="nn.v", b="c.cv")} / (nn.nm * c.cnm) DESC,
                      c.cid ASC) AS rn
    FROM n nn CROSS JOIN cent c)
  WHERE rn = 1)
"""

ORACLES: dict[str, str] = {
    "q_scan_project": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "q_json_decode": (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k "
        "FROM events"
    ),
    "q_regex_clean": (
        "SELECT c_custkey, regexp_replace(c_name, '[^a-zA-Z0-9/]', '', 'g') AS clean_name "
        "FROM customer"
    ),
    "q_split_last": (
        "SELECT p_partkey, (str_split(p_name, ' '))[-1] AS last_token FROM part"
    ),
    "q_prefix_bucket": (
        "SELECT upper(substring(p_name, 1, 3)) AS bucket, count(*) AS n "
        "FROM part GROUP BY 1"
    ),
    "q_ts_parse": (
        "SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_iso, "
        "strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'), '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_rt "
        "FROM events"
    ),
    "q_normalize": """
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
""",
    "q_flag_route": (
        "SELECT CASE WHEN o_orderstatus = 'F' THEN 'deleted' "
        "WHEN o_orderstatus = 'O' THEN 'update' ELSE 'processing' END AS route, "
        "count(*) AS n FROM orders GROUP BY 1"
    ),
    "q_filter_notnull": (
        "SELECT event_id, event_type, value FROM events "
        "WHERE props IS NOT NULL AND value IS NOT NULL"
    ),
    "q_filter_size": (
        "SELECT l_returnflag, count(*) AS n_items, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price "
        "FROM lineitem WHERE l_extendedprice <= 10000 GROUP BY 1"
    ),
    "q_argmax_latest": (
        "SELECT o_custkey, o_orderkey AS latest_order_key, o_orderdate AS latest_order_date "
        "FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) "
        "WHERE rn = 1"
    ),
    "q_mirror_record": """
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
""",
    "q_retention_topn": (
        "SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate, rn AS keep_rank FROM "
        "(SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate, row_number() OVER "
        "(PARTITION BY l_partkey ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn "
        "FROM lineitem) WHERE rn <= 5"
    ),
    "q_retention_gc": """
WITH elig AS (
  SELECT l_partkey FROM lineitem GROUP BY 1
  HAVING count(*) > 5 AND count(*) - count(DISTINCT l_orderkey) <= 2),
r AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
  FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM elig))
SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate FROM r WHERE rn > 5
""",
    "q_retention_tombstone": """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS cnt,
         lead(o_orderstatus = 'F') OVER w AS next_tomb
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC))
SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
FROM r WHERE rn <= cnt - 5 AND NOT coalesce(next_tomb, false)
""",
    "q_count_events": "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    "q_max_seq": (
        "SELECT greatest(CAST(max(event_id) AS BIGINT), 5000) AS start_seq FROM events"
    ),
    "q_lag": (
        "SELECT user_id, (SELECT max(event_id) FROM events) - max(event_id) AS seq_lag "
        "FROM events GROUP BY user_id"
    ),
    "q_union_logs": (
        "SELECT CASE event_type WHEN 'click' THEN 'downloaded_in_local' "
        "WHEN 'view' THEN 'moved_to_remote' WHEN 'purchase' THEN 'added_to_db' "
        "WHEN 'error' THEN 'skipped_changes' ELSE 'run_logs' END AS stage, "
        "count(*) AS n FROM events GROUP BY 1"
    ),
    "q_anti_join": (
        "SELECT o_orderkey, o_custkey FROM orders o "
        "WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)"
    ),
    "q_enrich_join": (
        "SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value "
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey"
    ),
    "q_dedup_exact": (
        "SELECT DISTINCT event_id, ts, user_id, event_type, value, props FROM "
        "(SELECT * FROM events UNION ALL SELECT * FROM events WHERE event_id % 10 = 0)"
    ),
    "q_order_gap_stats": """
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
""",
    "q_dup_rate_by_source": f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, source FROM documents WHERE doc_id % 7 = 0),
h AS (SELECT source, sha256({_NORM}) AS text_hash FROM corpus)
SELECT source, count(*) AS n_docs, count(DISTINCT text_hash) AS n_uniq,
       CAST(count(*) - count(DISTINCT text_hash) AS DOUBLE) / count(*) AS dup_rate
FROM h GROUP BY 1
""",
    "q_dedup_norm": f"""
WITH {_DOCS_WITH_DUPS}
SELECT sha256({_NORM}) AS text_hash, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM docs2 GROUP BY 1
""",
    "q_minhash_pairs": f"""
WITH {_MINHASH_EDGES}
SELECT id_a, id_b FROM edges
""",
    # pairs -> connected components (recursive reachability closure; the
    # dup clusters are tiny so the closure is small) -> min-id keep-set
    "q_dedup_keepset": f"""
WITH RECURSIVE {_MINHASH_EDGES},
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
rep AS (SELECT src AS node, least(src, min(dst)) AS label
        FROM reach GROUP BY src)
SELECT d.doc_id FROM docs2 d LEFT JOIN rep ON d.doc_id = rep.node
WHERE rep.node IS NULL OR rep.label = d.doc_id
""",
    "q_dedup_keepbest": f"""
WITH RECURSIVE {_MINHASH_EDGES},
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
rep AS (SELECT src AS node, least(src, min(dst)) AS label
        FROM reach GROUP BY src),
sc AS (SELECT rep.node, rep.label, length(d.text) AS s
       FROM rep JOIN docs2 d ON d.doc_id = rep.node),
best AS (SELECT node FROM (
  SELECT node, row_number() OVER (PARTITION BY label
           ORDER BY s DESC, node ASC) AS rn FROM sc) WHERE rn = 1)
SELECT d.doc_id FROM docs2 d LEFT JOIN rep ON d.doc_id = rep.node
WHERE rep.node IS NULL OR d.doc_id IN (SELECT node FROM best)
""",
    "q_dup_cluster_sizes": f"""
WITH RECURSIVE {_MINHASH_EDGES},
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
rep AS (SELECT src AS node, least(src, min(dst)) AS label
        FROM reach GROUP BY src),
sizes AS (SELECT label, count(*) AS cluster_size FROM rep GROUP BY label)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
""",
    "q_ngram_jaccard": f"""
WITH {_SHINGLES.format(src="documents")},
shd AS (
  SELECT s.doc_id, d.lang, list_distinct(s.shingles) AS sh
  FROM sh s JOIN documents d ON d.doc_id = s.doc_id),
-- mirrors the Spark _banded_pairs equi-key: side a emitted in its own
-- band and the neighbor band, then equi-joined on (band, lang)
a2 AS (
  SELECT doc_id, lang, sh, (doc_id // 20) AS band FROM shd
  UNION ALL
  SELECT doc_id, lang, sh, (doc_id // 20) + 1 AS band FROM shd),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
         len(a.sh) + len(b.sh)
           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
  FROM a2 a JOIN shd b
    ON a.band = (b.doc_id // 20) AND a.lang = b.lang
   AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 20)
SELECT id_a, id_b, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
FROM pairs WHERE inter > 0
""",
    "q_cosine_topk": f"""
WITH {_EMB_NORMED},
p AS (SELECT vec_id AS probe_id, v AS pv, nm AS pn FROM n WHERE vec_id < 10),
s AS (
  SELECT p.probe_id, c.vec_id AS neighbor_id,
         {_DOT.format(a="c.v", b="p.pv")} / (c.nm * p.pn) AS cos_sim
  FROM n c CROSS JOIN p WHERE c.vec_id != p.probe_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank" FROM s)
SELECT probe_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
""",
    "q_rrf_fusion": f"""
WITH {_EMB_NORMED},
p AS (SELECT vec_id AS probe_id, v AS pv, nm AS pn FROM n WHERE vec_id < 5),
s AS (
  SELECT p.probe_id, c.vec_id AS neighbor_id,
         {_DOT.format(a="c.v", b="p.pv")} / (c.nm * p.pn) AS cos_sim,
         {_DOT.format(a="c.v", b="p.pv")} AS dp
  FROM n c CROSS JOIN p WHERE c.vec_id != p.probe_id),
r AS (
  SELECT probe_id, neighbor_id,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS r_cos,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY dp DESC, neighbor_id ASC) AS r_dot
  FROM s),
f AS (
  SELECT probe_id, neighbor_id,
         (1.0 / (60 + r_cos)) + (1.0 / (60 + r_dot)) AS rrf_score FROM r),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY rrf_score DESC, neighbor_id ASC) AS fused_rank
  FROM f)
SELECT probe_id, neighbor_id, rrf_score, fused_rank FROM rk WHERE fused_rank <= 10
""",
    "q_doc_rarity": f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split({_NORM}, ' ')) AS term FROM documents),
tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1),
rk AS (SELECT term, row_number() OVER (ORDER BY freq DESC, term ASC) AS "rank" FROM tf)
SELECT tok.doc_id, count(*) AS n_tokens,
       CAST(sum("rank") AS DOUBLE) / count(*) AS avg_rank
FROM tok JOIN rk ON tok.term = rk.term
GROUP BY 1
""",
    "q_cosine_dup_pairs": f"""
WITH {_EMB_NORMED}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) >= 0.4
""",
    "q_text_stats": f"""
WITH w AS (SELECT lang, text, str_split({_NORM}, ' ') AS toks FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
       CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avg_tokens
FROM w GROUP BY lang
""",
    "q_quality_score": f"""
WITH w AS (SELECT doc_id, text, str_split({_NORM}, ' ') AS toks FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         / len(toks) AS mean_token_len,
       CAST(len(list_filter(toks, x -> list_contains(
            ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
         / length(text) AS punct_ratio
FROM w
""",
    "q_profile": " UNION ALL ".join(
        f"""
SELECT '{c}' AS "column",
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM orders"""
        for c in ("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
    ),
    "q_large_order_customers": """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150.0)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, b.total_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""",
    "q_top_events_page": """
SELECT event_id, user_id, value FROM events
ORDER BY value DESC, event_id ASC
LIMIT 10 OFFSET 10
""",
    "q_user_event_history": """
SELECT user_id,
       array_to_string(
         list_sort(list(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR)
                        || '|' || event_type)), ',') AS history,
       count(*) AS n_events
FROM events GROUP BY user_id
""",
    "q_mode_per_user": """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type)
SELECT user_id, event_type AS top_event_type, n FROM (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
           ORDER BY n DESC, event_type ASC) AS rn
  FROM counts) WHERE rn = 1
""",
    "q_rolling_hour": """
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         AS n_trailing_hour
FROM events
""",
    "q_quality_percentile_filter": f"""
WITH w AS (SELECT doc_id, str_split({_NORM}, ' ') AS toks FROM documents),
f AS (SELECT doc_id,
        CAST(len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
          / len(toks) AS stopword_ratio
      FROM w),
p AS (SELECT quantile_cont(stopword_ratio, 0.25) AS p25 FROM f)
SELECT doc_id, stopword_ratio FROM f, p WHERE stopword_ratio >= p25
""",
    "q_gopher_rules": f"""
WITH {_SHINGLES.format(src="documents")},
f AS (
  SELECT d.doc_id,
         CAST(len(w.w) AS INTEGER) AS n_tokens,
         CAST(list_sum(list_transform(w.w, x -> length(x))) AS DOUBLE)
           / len(w.w) AS mean_token_len,
         CAST(len(list_filter(w.w, x -> list_contains(
              ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
           / len(w.w) AS stopword_ratio,
         CAST(len(regexp_extract_all(d.text, '[^\\w\\s]')) AS DOUBLE)
           / length(d.text) AS punct_ratio,
         CAST(len(s.shingles) - len(list_distinct(s.shingles)) AS DOUBLE)
           / len(s.shingles) AS dup3_ratio
  FROM documents d
  JOIN w ON w.doc_id = d.doc_id
  JOIN sh s ON s.doc_id = d.doc_id)
SELECT doc_id, n_tokens, dup3_ratio,
       n_tokens BETWEEN 10 AND 1000 AS ok_length,
       (mean_token_len >= 2.0 AND mean_token_len <= 12.0) AS ok_token_len,
       punct_ratio <= 0.3 AS ok_punct,
       stopword_ratio >= 0.01 AS ok_stopwords,
       dup3_ratio <= 0.3 AS low_repetition,
       ((n_tokens BETWEEN 10 AND 1000) AND mean_token_len >= 2.0
        AND mean_token_len <= 12.0 AND punct_ratio <= 0.3
        AND stopword_ratio >= 0.01 AND dup3_ratio <= 0.3) AS keep
FROM f
""",
    "q_decontaminate": f"""
WITH {_shingles_sql("documents", 5)},
bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 0),
corp AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 0),
hits AS (SELECT corp.doc_id, count(DISTINCT corp.shingle) AS n_hits
         FROM corp JOIN bench USING (shingle) GROUP BY corp.doc_id)
SELECT s.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
WHERE s.doc_id % 20 <> 0
""",
    "q_redact_pii": """
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user'
      || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
      || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-867-530'
      || CAST(doc_id % 10 AS VARCHAR)
    ELSE text END AS text
  FROM documents),
s1 AS (SELECT doc_id, text,
  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g') AS t1 FROM inj),
s2 AS (SELECT *,
  regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                 '[IPV4]', 'g') AS t2 FROM s1),
s3 AS (SELECT *,
  regexp_replace(t2, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b',
                 '[PHONE]', 'g') AS t3 FROM s2)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
  CAST(len(regexp_extract_all(t1,
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER) AS n_ipv4,
  CAST(len(regexp_extract_all(t2,
    '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS INTEGER) AS n_phone,
  t3 AS redacted
FROM s3
""",
    "q_pack_sequences": f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(str_split({_NORM}, ' ')) AS INTEGER) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
  FROM toks)
SELECT source, doc_id, n_tokens,
       cum_end - n_tokens AS offset,
       CAST(floor((cum_end - n_tokens) / 512.0) AS BIGINT) AS first_block,
       -- clamped like the Spark side: a zero-token doc on a block boundary
       -- must not produce last_block < first_block
       greatest(CAST(floor((cum_end - n_tokens) / 512.0) AS BIGINT),
                CAST(floor((cum_end - 1) / 512.0) AS BIGINT)) AS last_block
FROM cum
""",
    "q_pack_blocks": f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(str_split({_NORM}, ' ')) AS INTEGER) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
  FROM toks),
spans AS (
  SELECT source, n_tokens, cum_end - n_tokens AS off,
         CAST(floor((cum_end - n_tokens) / 512.0) AS BIGINT) AS fb,
         greatest(CAST(floor((cum_end - n_tokens) / 512.0) AS BIGINT),
                  CAST(floor((cum_end - 1) / 512.0) AS BIGINT)) AS lb
  FROM cum),
blocks AS (
  SELECT source, n_tokens, off, unnest(generate_series(fb, lb)) AS block
  FROM spans)
SELECT source, block, count(*) AS n_docs,
       CAST(sum(least(off + n_tokens, (block + 1) * 512)
                - greatest(off, block * 512)) AS BIGINT) AS n_block_tokens,
       CAST(sum(least(off + n_tokens, (block + 1) * 512)
                - greatest(off, block * 512)) AS BIGINT) / 512.0 AS fill
FROM blocks GROUP BY source, block
""",
    "q_stratified_sample": """
SELECT doc_id, source FROM documents
WHERE ((doc_id % 2147483648) * 2654435761) % 1000 <
  CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 500
              WHEN 'src2' THEN 250 ELSE 50 END
""",
    "q_funnel": """
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
""",
    "q_length_histogram": f"""
WITH toks AS (
  SELECT source,
         CAST(len(str_split({_NORM}, ' ')) AS INTEGER) AS n_tokens
  FROM documents)
SELECT source, CAST(floor(n_tokens / 50.0) AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM toks GROUP BY 1, 2
""",
    "q_corpus_diff": """
WITH d AS (SELECT doc_id FROM documents),
s2 AS (SELECT doc_id FROM d WHERE doc_id % 17 <> 0
       UNION ALL SELECT doc_id + 300000 FROM d WHERE doc_id % 13 = 0)
SELECT doc_id, 'removed' AS change FROM (SELECT doc_id FROM d EXCEPT ALL SELECT doc_id FROM s2)
UNION ALL
SELECT doc_id, 'added' AS change FROM (SELECT doc_id FROM s2 EXCEPT ALL SELECT doc_id FROM d)
""",
    "q_chunk_tokens": f"""
WITH w AS (SELECT doc_id, str_split({_NORM}, ' ') AS w FROM documents),
k AS (SELECT doc_id, w, CAST(len(w) AS INTEGER) AS n,
             CAST(floor((greatest(CAST(len(w) AS INTEGER) - 64, 0) + 47) / 48.0)
                  AS INTEGER) AS k_max
      FROM w),
e AS (SELECT doc_id, w, unnest(generate_series(0, k_max)) AS chunk_idx FROM k)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS INTEGER)
         AS n_chunk_tokens,
       array_to_string(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')
         AS chunk_text
FROM e
""",
    "q_edit_distance": """
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
""",
    "q_lang_id": f"""
WITH w AS (SELECT doc_id, str_split({_NORM}, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
  len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','es'], x))) AS s_es,
  len(list_filter(toks, x -> list_contains(['le','la','de','et','que','en','est'], x))) AS s_fr,
  len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','ist'], x))) AS s_de
  FROM w)
SELECT doc_id, CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
  WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
  WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
  WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
  ELSE 'fr' END AS lang_guess
FROM s
""",
    "q_token_count": f"""
SELECT doc_id, len(str_split({_NORM}, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
FROM documents
""",
    "q_fingerprint": f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(str_split({_NORM}, ' '))), ' ')) AS fp
FROM documents
""",
    "q_window_counts": (
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n, "
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY 1, 2"
    ),
    "q_tpch_pricing": (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, "
        "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
        " AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' "
        "GROUP BY 1, 2"
    ),
    "q_shipping_priority": """
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
""",
    "q_local_supplier_volume": """
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
""",
    "q_window_funcs": """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist
FROM events
WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
""",
    "q_revenue_by_customer": """
WITH rev AS (
  SELECT o.o_custkey,
         CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS revenue
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey)
SELECT c.c_custkey, c.c_name, c.c_mktsegment, rev.revenue
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
""",
    "q_centroids": """
SELECT label, t.i AS pos,
       CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 16777216.0) AS BIGINT))
            AS DOUBLE) / 16777216.0 / count(*) AS centroid_val
FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
GROUP BY label, t.i
""",
    "q_salted_counts": (
        # salting is plan-topology only; the oracle is the plain count
        "SELECT event_type, count(*) AS n FROM events GROUP BY 1"
    ),
    "q_region_rollup": """
SELECT r.r_name, n.n_name, count(*) AS n_lines,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    "q_quality_filter": f"""
WITH w AS (SELECT lang, source, str_split({_NORM}, ' ') AS toks FROM documents),
f AS (SELECT lang, source, len(toks) AS n_tokens,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
          AS mean_token_len
      FROM w)
SELECT lang, source, count(*) AS n_kept
FROM f
WHERE n_tokens >= 10 AND n_tokens <= 1000
  AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
GROUP BY lang, source
""",
    "q_tf_df": f"""
SELECT t.term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(str_split({_NORM}, ' ')) AS term FROM documents) t
GROUP BY t.term
""",
    "q_heavy_hitters": f"""
SELECT term, tf FROM (
  SELECT t.term, count(*) AS tf
  FROM (SELECT unnest(str_split({_NORM}, ' ')) AS term FROM documents) t
  GROUP BY t.term)
ORDER BY tf DESC, term ASC
LIMIT 20
""",
    # DuckDB's sha256(VARCHAR) hashes the string's UTF-8 bytes — exactly
    # Spark's sha2(encode(text,'UTF-8')); octet_length via BLOB cast
    "q_blob_stats": """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
       sha256(text) AS digest,
       upper(substring(sha256(text), 1, 2)) AS shard
FROM documents
""",
    "q_semi_join": (
        "SELECT o_orderkey, o_custkey FROM orders o "
        "WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)"
    ),
    "q_grouping_rollup": (
        "SELECT lang, source, count(*) AS n_docs FROM documents "
        "GROUP BY ROLLUP(lang, source)"
    ),
    "q_sessionize": """
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
""",
    # independent formulation: lag+cumsum session ids (native session_window
    # has no SQL equivalent in DuckDB) -> per-session counts -> per-user stats
    "q_session_stats": """
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
""",
    "q_running_total": """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,4)))
            OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
FROM events
""",
    "q_pivot_counts": """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'error') AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id
""",
    "q_simhash_pairs": f"""
WITH {_DOCS_WITH_DUPS},
w AS (SELECT doc_id, str_split({_NORM}, ' ') AS toks FROM docs2),
v AS (SELECT doc_id,
        list_transform(toks, t -> ('0x' || substr(md5(t),1,4))::INTEGER) AS vals
      FROM w),
sig AS (
  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 15),
           j -> CASE WHEN 2 * len(list_filter(vals, x -> ((x >> j) & 1) = 1))
                        - len(vals) > 0
                THEN (1 << j) ELSE 0 END)) AS INTEGER) AS sig
  FROM v)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id
 AND (a.sig % 256 = b.sig % 256 OR a.sig // 256 = b.sig // 256)
WHERE bit_count(xor(a.sig, b.sig)) <= 3
""",
    "q_ann_ivf": f"""
WITH {_EMB_NORMED},
{_IVF_ASSIGNED},
probes AS (SELECT vec_id AS probe_id, v AS pv, nm AS pn FROM n WHERE vec_id < 5),
pc AS (
  SELECT probe_id, cluster FROM (
    SELECT p.probe_id, c.cid AS cluster,
           row_number() OVER (PARTITION BY p.probe_id
             ORDER BY {_DOT.format(a="p.pv", b="c.cv")} / (p.pn * c.cnm) DESC,
                      c.cid ASC) AS rn
    FROM probes p CROSS JOIN cent c)
  WHERE rn <= 2),
cand AS (
  SELECT pc.probe_id, a.vec_id AS neighbor_id,
         {_DOT.format(a="a.v", b="p.pv")} / (a.nm * p.pn) AS cos_sim
  FROM assigned a
  JOIN pc ON a.cluster = pc.cluster
  JOIN probes p ON p.probe_id = pc.probe_id
  WHERE a.vec_id != pc.probe_id)
SELECT probe_id, neighbor_id, cos_sim, "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank"
  FROM cand)
WHERE "rank" <= 3
""",
    "q_ivf_dup_pairs": f"""
WITH {_EMB_NORMED},
{_IVF_ASSIGNED}
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) AS cos_sim
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
WHERE cos_sim >= 0.4
""",
    "q_semdedup": f"""
WITH {_EMB_NORMED},
{_IVF_ASSIGNED},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) AS cos_sim
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cos_sim >= 0.4)
SELECT e.vec_id, e.label
FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.id_b
WHERE d.id_b IS NULL
""",
    "q_order_priority_check": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_returnflag = 'R')
GROUP BY 1
""",
    "q_returned_item_revenue": """
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
""",
    "q_nation_volume": """
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
""",
    "q_small_quantity_revenue": """
WITH s AS (
  SELECT l_partkey AS p_key,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
         count(*) AS n_q
  FROM lineitem GROUP BY 1)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
       count(*) AS n_items
FROM lineitem l JOIN s ON l.l_partkey = s.p_key
WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * n_q < sum_qty
""",
    "q_market_share": """
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
""",
    "q_priority_lines": """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY 1
""",
    "q_promo_revenue": """
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
""",
    "q_supplier_part_count": """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
    "q_disjunctive_revenue": """
SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40)
""",
    "q_idle_rich_customers": """
SELECT c_mktsegment, count(*) AS n_custs,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer
WHERE CAST(c_acctbal AS DOUBLE) >
      (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
       FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= '2000-06-01')
GROUP BY 1
""",
    "q_cube_counts": """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "q_rank_family": """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
    "q_set_ops": """
WITH open_k AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
fin_k AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM open_k INTERSECT SELECT o_custkey FROM fin_k)
UNION ALL
SELECT 'only_open' AS tag, o_custkey FROM (SELECT o_custkey FROM open_k EXCEPT SELECT o_custkey FROM fin_k)
UNION ALL
SELECT 'only_finished' AS tag, o_custkey FROM (SELECT o_custkey FROM fin_k EXCEPT SELECT o_custkey FROM open_k)
""",
    "q_gap_fill": """
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events),
b AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
grid AS (
  SELECT t.event_type, unnest(generate_series(b.hmin, b.hmax)) AS h
  FROM (SELECT DISTINCT event_type FROM ev) t, b),
c AS (SELECT event_type, h, count(*) AS n FROM ev GROUP BY 1, 2)
SELECT g.event_type, g.h, coalesce(c.n, 0) AS n_events
FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
""",
    "q_cohort_retention": """
WITH u AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w FROM events),
f AS (SELECT user_id, min(w) AS cohort_w FROM u GROUP BY 1)
SELECT f.cohort_w, u.w - f.cohort_w AS week_offset,
       count(DISTINCT u.user_id) AS n_users
FROM u JOIN f ON u.user_id = f.user_id
GROUP BY 1, 2
""",
    "q_new_users_daily": """
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
""",
    "q_hash_sample": """
SELECT doc_id, lang, n_chars FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
""",
    "q_zscore_outliers": """
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
""",
    "q_group_percentiles": """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang, max(n) AS n_docs,
       max(CASE WHEN rn = ceil(0.5 * n) THEN n_chars END) AS p50_chars,
       max(CASE WHEN rn = ceil(0.9 * n) THEN n_chars END) AS p90_chars
FROM ranked GROUP BY 1
""",
    "q_event_cooccurrence": """
WITH ev AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, event_type
  FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_cells
FROM ev a JOIN ev b
  ON a.user_id = b.user_id AND a.h = b.h AND a.event_type < b.event_type
GROUP BY 1, 2
""",
    "q_extract_mentions": r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b(scan|join|merge|sort)\b')) AS BIGINT) AS n_mentions,
       CASE WHEN len(regexp_extract_all(text, '\b(scan|join|merge|sort)\b')) > 0
            THEN regexp_extract_all(text, '\b(scan|join|merge|sort)\b')[1] END AS first_mention
FROM documents
""",
    "q_corr_moments": """
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
""",
    "q_best_supplier": """
WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
  SELECT b.l_partkey AS partkey, s.s_suppkey, s.s_acctbal,
         row_number() OVER (PARTITION BY b.l_partkey
                            ORDER BY s.s_acctbal DESC, s.s_suppkey ASC) AS rn
  FROM bridge b JOIN supplier s ON b.l_suppkey = s.s_suppkey)
SELECT partkey, s_suppkey AS best_suppkey, s_acctbal AS best_acctbal
FROM ranked WHERE rn = 1
""",
    "q_nation_profit": """
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
""",
    "q_revenue_share": """
WITH per_nation AS (
  SELECT n.n_name, sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1)
SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE) AS rev_share
FROM per_nation
""",
    "q_mad": """
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
""",
    "q_order_size_dist": """
SELECT n_items, count(*) AS n_orders FROM (
  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
GROUP BY 1
""",
    "q_forecast_revenue": """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
""",
    "q_top_supplier_revenue": """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
""",
    "q_overstock_suppliers": """
SELECT s_suppkey, s_name, s_nationkey FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 40)
""",
    "q_waiting_orders": """
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
""",
    "q_customer_order_dist": """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT coalesce(p.n_orders, 0) AS n_orders, count(*) AS n_custs
FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY 1
""",
    "q_valuable_parts": """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS part_value
  FROM lineitem GROUP BY 1),
total AS (SELECT CAST(sum(part_value) AS DECIMAL(38,4)) AS total_value,
                 count(*) AS n_parts FROM per_part)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM per_part, total
WHERE part_value * n_parts * 2 > total_value * 3
""",
    "q_weekly_growth": """
WITH weekly AS (
  SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w,
         count(DISTINCT user_id) AS buyers
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT w, buyers,
       CAST(buyers - lag(buyers) OVER (ORDER BY w) AS DOUBLE)
       / CAST(lag(buyers) OVER (ORDER BY w) AS DOUBLE) AS wow_growth
FROM weekly
""",
    "q_sliding_window": """
WITH e AS (
  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
x AS (
  SELECT event_type, value, es, unnest([0, 1, 2, 3]) AS j FROM e)
SELECT ((es // 900) - j) * 900 AS w_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2
""",
    "q_last_touch": """
SELECT event_id AS purchase_id, user_id, touch_event_id FROM (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_event_id
  FROM events)
WHERE event_type = 'purchase'
""",
    "q_asof_join": """
SELECT event_id, user_id, ts, last_order_date, last_order_key FROM (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate AS last_order_date, o.o_orderkey AS last_order_key,
         row_number() OVER (PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST,
                    o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
""",
    # same semantics, same oracle — the two registered Spark forms differ
    # only in join topology (bucketed vs composition)
    "q_asof_plain": """
SELECT event_id, user_id, ts, last_order_date, last_order_key FROM (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate AS last_order_date, o.o_orderkey AS last_order_key,
         row_number() OVER (PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST,
                    o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
""",
    "q_range_join": """
SELECT a.event_id, b.event_id AS next_event_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTES
 AND b.event_id != a.event_id
""",
    "q_unpivot": (
        # unpivot of per-user counts == plain long-form counts
        "SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n "
        "FROM events GROUP BY user_id, event_type"
    ),
    "q_exact_percentiles": (
        "SELECT event_type, quantile_cont(value, 0.5) AS p50_value, "
        "quantile_cont(value, 0.9) AS p90_value, "
        "min(value) AS min_value, max(value) AS max_value "
        "FROM events GROUP BY 1"
    ),
    # q_approx_stats: intentionally no oracle — sketches are approximate
    # by nature; driver records rows-only.
}

# Composed oracle: ANN recall = exact top-k (restricted to the ANN's
# probes/k) semi-matched against the ANN result — both sides reuse the
# already-verified oracle texts verbatim as derived tables.
ORACLES["q_cluster_split"] = f"""
WITH RECURSIVE {_MINHASH_EDGES},
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
rep AS (SELECT src AS node, least(src, min(dst)) AS label
        FROM reach GROUP BY src),
lab AS (
  SELECT d.doc_id, coalesce(rep.label, d.doc_id) AS cluster
  FROM docs2 d LEFT JOIN rep ON d.doc_id = rep.node)
SELECT doc_id, cluster,
       CASE WHEN ((cluster % 2147483648) * 2654435761) % 100 < 90
            THEN 'train' ELSE 'val' END AS split
FROM lab
"""

ORACLES["q_variant_decode"] = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k,
       json_extract_string(props, '$.missing') AS missing_prop
FROM events
"""

ORACLES["q_event_transitions"] = """
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

ORACLES["q_source_overlap"] = f"""
WITH docs AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, 'mirror' FROM documents WHERE doc_id % 7 = 0),
fp AS (
  SELECT DISTINCT
    md5(array_to_string(list_sort(list_distinct(str_split({_NORM}, ' '))), ' ')) AS fp,
    source
  FROM docs)
SELECT a.source AS source_a, b.source AS source_b,
       count(DISTINCT a.fp) AS n_shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
"""

ORACLES["q_cap_per_source"] = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648,
                    doc_id) AS rk
  FROM documents)
SELECT doc_id, source FROM r WHERE rk <= 25
"""

ORACLES["q_ann_recall"] = f"""
WITH exact AS (
  SELECT probe_id, neighbor_id
  FROM ({ORACLES["q_cosine_topk"]}) WHERE probe_id < 5 AND rank <= 3),
ann AS (SELECT probe_id, neighbor_id FROM ({ORACLES["q_ann_ivf"]})),
hits AS (
  SELECT e.probe_id, count(a.neighbor_id) AS n_found, count(*) AS k
  FROM exact e LEFT JOIN ann a
    ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.probe_id)
SELECT probe_id, CAST(n_found AS BIGINT) AS n_found,
       CAST(n_found AS BIGINT) / CAST(k AS BIGINT) AS recall
FROM hits
"""

ORACLES["q_temperature_mix"] = """
WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
s AS (SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS share
      FROM c),
t AS (SELECT source, n_docs, share, sqrt(share) AS sc FROM s)
SELECT source, n_docs, share,
       round(sc / sum(sc) OVER (), 9) AS temp_weight
FROM t
"""

# q_temperature_sample: the q_temperature_mix weight chain (9-decimal
# clamp on the order-dependent float sum), then the identical
# least/floor threshold arithmetic and Knuth bucket filter.
ORACLES["q_temperature_sample"] = """
WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
s AS (SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS share
      FROM c),
t AS (SELECT source, n_docs, sqrt(share) AS sc FROM s),
w AS (SELECT source, n_docs, round(sc / sum(sc) OVER (), 9) AS tw FROM t),
r AS (SELECT source,
             CAST(floor(least(1.0, tw * 600.0 / CAST(n_docs AS DOUBLE))
                        * 1000) AS BIGINT) AS thresh
      FROM w)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
FROM documents d JOIN r USING (source)
WHERE ((d.doc_id % 2147483648) * 2654435761) % 1000 < r.thresh
GROUP BY d.source
"""

ORACLES["q_dup_ngram_fraction"] = f"""
WITH {_SHINGLES.format(src="documents")},
ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
c AS (SELECT s, count(*) AS nd FROM ex GROUP BY s)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS dup_frac
FROM ex JOIN c USING (s)
GROUP BY doc_id
"""

ORACLES["q_minhash_recall"] = f"""
WITH {_MINHASH_EDGES},
ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
truth AS (
  SELECT co.id_a, co.id_b
  FROM co
  JOIN sz sa ON sa.doc_id = co.id_a
  JOIN sz sb ON sb.doc_id = co.id_b
  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5)
SELECT count(t.id_a) AS n_true_pairs,
       count(e.id_a) AS n_candidates,
       count(CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL
                  THEN 1 END) AS n_hit,
       CAST(count(CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL
                       THEN 1 END) AS DOUBLE) / count(t.id_a) AS recall,
       CAST(count(CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL
                       THEN 1 END) AS DOUBLE) / count(e.id_a) AS precision
FROM truth t FULL JOIN edges e ON t.id_a = e.id_a AND t.id_b = e.id_b
"""

# PQ + exact rerank recovers the exact top-k at this scale (the measured
# shortlist-recovery contract, headroom documented in q_ann_pq's
# docstring) — so its oracle is cosine_topk's, verbatim.
ORACLES["q_ann_pq"] = ORACLES["q_cosine_topk"]

ORACLES["q_dup_spans"] = f"""
WITH {_shingles_sql("documents", 4).replace("sh AS", "g0 AS")},
g AS (SELECT g0.doc_id, len(w.w) AS n_tokens, g0.shingles AS grams
      FROM g0 JOIN w ON g0.doc_id = w.doc_id),
ex AS (SELECT doc_id, n_tokens, generate_subscripts(grams, 1) - 1 AS pos,
              unnest(grams) AS gram FROM g),
car AS (SELECT gram FROM (
          SELECT gram, count(DISTINCT doc_id) AS nd FROM ex GROUP BY gram)
        WHERE nd >= 2),
dp AS (SELECT doc_id, n_tokens, pos FROM ex JOIN car USING (gram)),
isl AS (SELECT doc_id, n_tokens, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
             THEN 1 ELSE 0 END AS nw FROM dp),
isl2 AS (SELECT doc_id, n_tokens, pos, sum(nw) OVER (
           PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS island FROM isl),
sp AS (SELECT doc_id, n_tokens, island,
              least(max(pos) - min(pos) + 4, n_tokens) AS span_tokens
       FROM isl2 GROUP BY doc_id, n_tokens, island),
pd AS (SELECT doc_id, n_tokens, count(*) AS n_dup_spans,
              CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
              max(span_tokens) AS max_span_tokens
       FROM sp GROUP BY doc_id, n_tokens),
alld AS (SELECT doc_id, len(str_split({_NORM}, ' ')) AS n_tokens
         FROM documents)
SELECT a.doc_id, a.n_tokens,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       coalesce(p.dup_tokens, 0) AS dup_tokens,
       coalesce(p.max_span_tokens, 0) AS max_span_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / a.n_tokens AS dup_frac
FROM alld a LEFT JOIN pd p ON a.doc_id = p.doc_id AND a.n_tokens = p.n_tokens
"""

ORACLES["q_cut_dup_spans"] = f"""
WITH {_shingles_sql("documents", 4).replace("sh AS", "g0 AS")},
g AS (SELECT g0.doc_id, len(w.w) AS n_tokens, g0.shingles AS grams
      FROM g0 JOIN w ON g0.doc_id = w.doc_id),
ex AS (SELECT doc_id, n_tokens, generate_subscripts(grams, 1) - 1 AS pos,
              unnest(grams) AS gram FROM g),
fc AS (SELECT gram, min(doc_id) AS first_doc FROM ex GROUP BY gram),
cp AS (SELECT e.doc_id, e.n_tokens, e.pos
       FROM ex e JOIN fc USING (gram) WHERE fc.first_doc < e.doc_id),
isl AS (SELECT doc_id, n_tokens, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
             THEN 1 ELSE 0 END AS nw FROM cp),
isl2 AS (SELECT doc_id, n_tokens, pos, sum(nw) OVER (
           PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS island FROM isl),
rg AS (SELECT doc_id, island, min(pos) AS s,
              least(max(pos) + 3, any_value(n_tokens) - 1) AS e
       FROM isl2 GROUP BY doc_id, island),
tok AS (SELECT doc_id, len(w) AS n_tokens,
               generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS token
        FROM w),
keptt AS (SELECT t.doc_id, t.pos, t.token FROM tok t
          WHERE NOT EXISTS (SELECT 1 FROM rg r
                            WHERE r.doc_id = t.doc_id
                              AND t.pos BETWEEN r.s AND r.e)),
agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
               count(*) AS kept FROM keptt GROUP BY doc_id)
SELECT d.doc_id, d.text, coalesce(a.clean_text, '') AS clean_text,
       t0.n_tokens, CAST(coalesce(a.kept, 0) AS INTEGER) AS kept_tokens
FROM documents d
JOIN (SELECT DISTINCT doc_id, n_tokens FROM tok) t0 ON d.doc_id = t0.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""

# Shared BM25 scoring pipeline (rational idf, integer-scaled weights —
# operators/retrieval.py has the determinism argument). Ends at the
# per-doc `sc` CTE so q_bm25 and q_hybrid_search stay one definition.
_BM25_CORE = f"""
WITH d AS (SELECT doc_id, str_split({_NORM}, ' ') AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM d),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
tok AS (SELECT d.doc_id, dl.dl, unnest(d.toks) AS term
        FROM d JOIN dl ON d.doc_id = dl.doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
       WHERE term IN ('spark', 'join', 'vector', 'stream') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
wt AS (SELECT tf.doc_id,
  CAST(floor(
    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       / (CAST(df AS DOUBLE) + 0.5))
    * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
       / (CAST(tf AS DOUBLE)
          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                   / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
    * 1000000.0) AS BIGINT) AS w_scaled
  FROM tf JOIN dfq USING (term) CROSS JOIN stats),
sc AS (SELECT doc_id, count(*) AS n_terms,
              CAST(sum(w_scaled) AS BIGINT) AS score_scaled
       FROM wt GROUP BY 1)
"""

ORACLES["q_bm25"] = _BM25_CORE + """
SELECT doc_id, n_terms, score_scaled,
       CAST(score_scaled AS DOUBLE) / 1000000.0 AS score,
       row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS "rank"
FROM sc ORDER BY score_scaled DESC, doc_id ASC LIMIT 20
"""

ORACLES["q_hybrid_search"] = _BM25_CORE + f""",
lex AS (SELECT doc_id AS id,
               row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC)
                 AS lex_rank
        FROM sc ORDER BY score_scaled DESC, doc_id ASC LIMIT 50),
{_EMB_NORMED.strip().lstrip()},
p AS (SELECT v AS pv, nm AS pn FROM n WHERE vec_id = 0),
s AS (SELECT c.vec_id AS id,
             {_DOT.format(a="c.v", b="p.pv")} / (c.nm * p.pn) AS cos_sim
      FROM n c CROSS JOIN p WHERE c.vec_id != 0),
vec AS (SELECT id,
               row_number() OVER (ORDER BY cos_sim DESC, id ASC) AS vec_rank
        FROM s ORDER BY cos_sim DESC, id ASC LIMIT 50),
fused AS (
  SELECT coalesce(lex.id, vec.id) AS id, lex_rank, vec_rank,
         coalesce(1.0 / (60 + lex_rank), 0.0)
           + coalesce(1.0 / (60 + vec_rank), 0.0) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id)
SELECT id, lex_rank, vec_rank, rrf_score,
       row_number() OVER (ORDER BY rrf_score DESC, id ASC) AS fused_rank
FROM fused ORDER BY rrf_score DESC, id ASC LIMIT 10
"""

ORACLES["q_bloom_new_customers"] = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e
                  WHERE e.event_type = 'purchase'
                    AND e.user_id = c.c_custkey)
"""

# q_ann_sq8 carries the same exact-top-k shortlist-recovery contract as
# q_ann_pq (comment above ORACLES["q_ann_pq"]), with narrower headroom
# needed: int8-per-dim error << one-code-per-subspace error.
ORACLES["q_ann_sq8"] = ORACLES["q_cosine_topk"]

# q_srp_pairs: the oracle replays the whole SRP pipeline — the identical
# md5-derived sign planes (md5('srp:<p>:<d>') first-byte parity, exactly
# operators/similarity.py::srp_signs), the 2^-24-quantized exact-integer
# plane dots (computed relationally — component x sign join + group-by,
# the fast shape for DuckDB; a nested-lambda literal matrix re-evaluates
# the 1024-entry literal per element and is ~1000x slower), the
# half-signature blocking, the Hamming gate, and the exact cosine verify.
ORACLES["q_srp_pairs"] = f"""
WITH {_EMB_NORMED},
comp AS (
  SELECT e.vec_id, t.i,
         CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 16777216.0) AS BIGINT) AS c
  FROM embeddings e CROSS JOIN generate_series(1, 64) t(i)),
sgn AS (
  SELECT pp.p, t.i,
         CASE WHEN ('0x' || substr(md5('srp:' || pp.p || ':' || (t.i - 1)),
                                   1, 2))::INTEGER % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM generate_series(0, 15) pp(p) CROSS JOIN generate_series(1, 64) t(i)),
pd AS (
  SELECT c.vec_id, g.p, sum(c.c * g.s) AS dt
  FROM comp c JOIN sgn g ON g.i = c.i
  GROUP BY c.vec_id, g.p),
sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dt >= 0 THEN (1 << p) ELSE 0 END) AS INTEGER) AS sig
  FROM pd GROUP BY vec_id),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
  FROM sig a JOIN sig b
    ON a.vec_id < b.vec_id
   AND (a.sig % 256 = b.sig % 256 OR a.sig // 256 = b.sig // 256)
  WHERE bit_count(xor(a.sig, b.sig)) <= 6)
SELECT id_a, id_b, hamming,
       {_DOT.format(a="na.v", b="nb.v")} / (na.nm * nb.nm) AS cos_sim
FROM cand
JOIN n na ON na.vec_id = cand.id_a
JOIN n nb ON nb.vec_id = cand.id_b
WHERE {_DOT.format(a="na.v", b="nb.v")} / (na.nm * nb.nm) >= 0.4
"""


def _kmeans_cte_body(k: int = 8, n_iter: int = 3, dim: int = 64) -> str:
    """Unrolled relational Lloyd CTE chain (no WITH keyword) ending at
    centroid table c{n_iter} — shared by the q_kmeans oracle and the
    trained-IVF composition (q_ann_ivf_trained). One (d, a, u, c) CTE
    quartet per round replays operators/similarity.py::train_kmeans
    exactly: exact-int squared-L2 argmin (ties -> lowest cid), exact
    integer component sums, and the identical two-IEEE-op requantized
    mean floor(sum/2^24/cnt * 2^24). Iterative training is normally
    beyond a SQL oracle; fixing the round count and keeping every
    intermediate deterministic makes it expressible."""
    parts = [
        f"""
comp AS (
  SELECT e.vec_id, t.i AS pos,
         CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 16777216.0) AS BIGINT) AS qc
  FROM embeddings e CROSS JOIN generate_series(1, {dim}) t(i)),
seed AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, vec_id
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
c0 AS (
  SELECT seed.cid, comp.pos, comp.qc AS q
  FROM seed JOIN comp USING (vec_id))"""
    ]
    for t in range(n_iter):
        parts.append(f""",
d{t} AS (
  SELECT comp.vec_id, c.cid,
         sum((comp.qc - c.q) * (comp.qc - c.q)) AS dist
  FROM comp JOIN c{t} c ON c.pos = comp.pos
  GROUP BY comp.vec_id, c.cid),
a{t} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{t})
  WHERE rn = 1),
u{t} AS (
  SELECT a.cluster AS cid, comp.pos,
         CAST(floor(CAST(sum(comp.qc) AS DOUBLE) / 16777216.0 / count(*)
                    * 16777216.0) AS BIGINT) AS q
  FROM comp JOIN a{t} a USING (vec_id)
  GROUP BY a.cluster, comp.pos),
c{t + 1} AS (
  SELECT c.cid, c.pos, COALESCE(u.q, c.q) AS q
  FROM c{t} c LEFT JOIN u{t} u ON u.cid = c.cid AND u.pos = c.pos)""")
    return "".join(parts)


def _kmeans_oracle_sql(k: int = 8, n_iter: int = 3, dim: int = 64) -> str:
    t = n_iter
    return f"""
WITH {_kmeans_cte_body(k, n_iter, dim)},
dfin AS (
  SELECT comp.vec_id, c.cid,
         sum((comp.qc - c.q) * (comp.qc - c.q)) AS dist
  FROM comp JOIN c{t} c ON c.pos = comp.pos
  GROUP BY comp.vec_id, c.cid)
SELECT vec_id, cluster FROM (
  SELECT vec_id, cid AS cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dfin)
WHERE rn = 1"""


ORACLES["q_kmeans"] = _kmeans_oracle_sql(k=8, n_iter=3, dim=64)

# q_url_filter: the oracle derives the keep-set INDEPENDENTLY — the
# blocklist names registrable domains (srcN.example.com), the synthetic
# hosts are docs.<source>.example.com, so suffix matching must reduce to
# the source predicate below; value equality proves the suffix algebra.
ORACLES["q_url_filter"] = """
SELECT doc_id,
       'https://docs.' || source || '.example.com/' || CAST(doc_id AS VARCHAR)
         AS url,
       'docs.' || source || '.example.com' AS host
FROM documents
WHERE source NOT IN ('src1', 'src3')
"""

# q_embed_text: the oracle recomputes the hashing-trick embedding
# relationally — one md5 per token occurrence, sign = parity of byte d
# of the digest, exact integer sums per (doc, dim).
ORACLES["q_embed_text"] = f"""
WITH w AS (
  SELECT doc_id, unnest(str_split({_NORM}, ' ')) AS tok FROM documents),
s AS (
  SELECT w.doc_id, d.d AS pos,
         CASE WHEN ('0x' || substr(md5(w.tok), d.d * 2 + 1, 2))::INTEGER % 2 = 1
              THEN 1 ELSE -1 END AS sgn
  FROM w CROSS JOIN generate_series(0, 15) d(d))
SELECT doc_id, pos, CAST(sum(sgn) AS INTEGER) AS val
FROM s GROUP BY doc_id, pos
"""

# q_vocab_growth: first-occurrence bucketing + running sum, replayed
# relationally (same normalization as the Spark tokenizer).
ORACLES["q_vocab_growth"] = f"""
WITH w AS (
  SELECT doc_id, unnest(str_split({_NORM}, ' ')) AS tok FROM documents),
fs AS (
  SELECT tok, min(doc_id) AS first_doc FROM w WHERE tok != '' GROUP BY tok),
pb AS (
  SELECT CAST(floor(first_doc / 50) AS BIGINT) AS bucket,
         count(*) AS new_types
  FROM fs GROUP BY 1)
SELECT bucket, new_types,
       CAST(sum(new_types) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM pb
"""


def _pagerank_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled relational PageRank over the _MINHASH_EDGES dup graph —
    replays operators/graph.py::pagerank exactly: scaled-int64 ranks,
    integer contribution div, integer teleport, per-round (dst) sums.
    Iterative like the q_kmeans oracle; exact ints make it expressible."""
    head = f"""
WITH {_MINHASH_EDGES},
und AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL SELECT id_b AS src, id_a AS dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
tp AS (SELECT CAST((1000000000000 * 15) // (100 * n) AS BIGINT) AS t,
              CAST(1000000000000 // n AS BIGINT) AS r_init FROM nn),
pr0 AS (SELECT deg.src AS id, tp.r_init AS rank FROM deg CROSS JOIN tp)"""
    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f""",
pr{t} AS (
  SELECT u.dst AS id,
         CAST(sum((r.rank * 85) // (100 * d.deg)) + any_value(tp.t) AS BIGINT)
           AS rank
  FROM und u
  JOIN pr{t - 1} r ON r.id = u.src
  JOIN deg d ON d.src = u.src
  CROSS JOIN tp
  GROUP BY u.dst)""")
    return head + "".join(rounds) + f"""
SELECT id, rank FROM pr{n_iter}"""


ORACLES["q_pagerank"] = _pagerank_oracle_sql(3)


def _pagerank_directed_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled relational replay of graph.py::pagerank_directed over
    the directed dup-attribution graph (copy id_b -> original id_a):
    per round, a 1-row dangling-mass fold (nodes with no out-arc) joins
    the (dst)-keyed integer sums on the full node universe.  All
    arithmetic non-negative integer div/sum, so DuckDB's // floors
    exactly like Spark's div."""
    head = f"""
WITH {_MINHASH_EDGES},
arcs AS (SELECT id_b AS src, id_a AS dst FROM edges),
nodes AS (SELECT DISTINCT id FROM
  (SELECT src AS id FROM arcs UNION ALL SELECT dst AS id FROM arcs)),
odeg AS (SELECT src, count(*) AS deg FROM arcs GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
tp AS (SELECT CAST((1000000000000 * 15) // (100 * n) AS BIGINT) AS t,
              CAST(1000000000000 // n AS BIGINT) AS r_init,
              n FROM nn),
pr0 AS (SELECT nodes.id, tp.r_init AS rank FROM nodes CROSS JOIN tp)"""
    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f""",
dang{t} AS (
  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dm
  FROM pr{t - 1} r LEFT JOIN odeg d ON d.src = r.id
  WHERE d.src IS NULL),
sums{t} AS (
  SELECT a.dst AS id,
         CAST(sum((r.rank * 85) // (100 * d.deg)) AS BIGINT) AS s
  FROM arcs a
  JOIN pr{t - 1} r ON r.id = a.src
  JOIN odeg d ON d.src = a.src
  GROUP BY a.dst),
pr{t} AS (
  SELECT no.id,
         CAST(coalesce(s.s, 0) + (dang{t}.dm * 85) // (100 * tp.n) + tp.t
              AS BIGINT) AS rank
  FROM nodes no
  LEFT JOIN sums{t} s ON s.id = no.id
  CROSS JOIN dang{t} CROSS JOIN tp)""")
    return head + "".join(rounds) + f"""
SELECT id, rank FROM pr{n_iter}"""


ORACLES["q_pagerank_directed"] = _pagerank_directed_oracle_sql(3)

# q_corpus_report: wraps the q_gopher_rules oracle (nested WITH in a CTE
# body) and aggregates; n_unique_texts is derived INDEPENDENTLY from
# distinct normalized text (Spark counts distinct sha2 digests of the
# same normalization — equal iff normalization parity holds).
ORACLES["q_corpus_report"] = f"""
WITH goph AS ({ORACLES["q_gopher_rules"]})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(g.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT {_NORM}) AS BIGINT) AS n_unique_texts,
       CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher_pass
FROM documents d JOIN goph g USING (doc_id)
"""

# q_classifier_eval: the oracle replays the grouped-rank AUC algebra —
# per distinct score (cnt, pos), running cnt_less, doubled average rank
# per positive; all integers, one exact division at the end.
ORACLES["q_classifier_eval"] = """
WITH base AS (
  SELECT n_chars AS score,
         CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS label
  FROM documents),
g AS (
  SELECT score, count(*) AS cnt, sum(label) AS pos
  FROM base GROUP BY score),
wl AS (
  SELECT *, COALESCE(sum(cnt) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
  FROM g),
agg AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN score > 500.0 THEN pos ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN score > 500.0 THEN cnt - pos ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT score > 500.0 THEN cnt - pos ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN NOT score > 500.0 THEN pos ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(pos * (2 * less + cnt + 1)) AS BIGINT) AS sum_r2
  FROM wl)
SELECT n_pos, n_neg, tp, fp, tn, fn,
       CAST(sum_r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
       CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
       CAST(sum_r2 - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
FROM agg
"""

# q_pr_curve: cumulative descending-threshold confusion, replayed
# relationally on the same integer scorer.
ORACLES["q_pr_curve"] = """
WITH base AS (
  SELECT n_chars AS score,
         CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS label
  FROM documents),
g AS (SELECT score AS threshold, count(*) AS cnt, sum(label) AS pos
      FROM base GROUP BY score),
tot AS (SELECT sum(label) AS n_pos FROM base),
cum AS (
  SELECT threshold,
         CAST(sum(pos) OVER (ORDER BY threshold DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(sum(cnt - pos) OVER (ORDER BY threshold DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
  FROM g)
SELECT c.threshold, c.tp, c.fp,
       CAST(t.n_pos - c.tp AS BIGINT) AS fn,
       CAST(c.tp AS DOUBLE) / CAST(c.tp + c.fp AS DOUBLE) AS precision,
       CAST(c.tp AS DOUBLE) / CAST(t.n_pos AS DOUBLE) AS recall
FROM cum c CROSS JOIN tot t
"""

# q_ann_ivf_trained: Lloyd CTEs -> trained centroids -> the identical
# IVF assign/search SQL as q_ann_ivf. Centroid doubles are q/2^24
# (power-of-two-scaled integers, bit-exact in both engines).
ORACLES["q_ann_ivf_trained"] = f"""
WITH {_kmeans_cte_body(8, 3, 64)},
{_EMB_NORMED.strip()},
centl AS (SELECT cid, list(q / 16777216.0 ORDER BY pos) AS cv
          FROM c3 GROUP BY cid),
tcent AS (SELECT cid, cv,
            sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnm
          FROM centl),
assigned AS (
  SELECT vec_id, v, nm, cid AS cluster FROM (
    SELECT nn.vec_id, nn.v, nn.nm, c.cid,
           row_number() OVER (PARTITION BY nn.vec_id
             ORDER BY {_DOT.format(a="nn.v", b="c.cv")} / (nn.nm * c.cnm) DESC,
                      c.cid ASC) AS rn
    FROM n nn CROSS JOIN tcent c)
  WHERE rn = 1),
probes AS (SELECT vec_id AS probe_id, v AS pv, nm AS pn FROM n WHERE vec_id < 5),
pc AS (
  SELECT probe_id, cluster FROM (
    SELECT p.probe_id, c.cid AS cluster,
           row_number() OVER (PARTITION BY p.probe_id
             ORDER BY {_DOT.format(a="p.pv", b="c.cv")} / (p.pn * c.cnm) DESC,
                      c.cid ASC) AS rn
    FROM probes p CROSS JOIN tcent c)
  WHERE rn <= 2),
cand AS (
  SELECT pc.probe_id, a.vec_id AS neighbor_id,
         {_DOT.format(a="a.v", b="p.pv")} / (a.nm * p.pn) AS cos_sim
  FROM assigned a
  JOIN pc ON a.cluster = pc.cluster
  JOIN probes p ON p.probe_id = pc.probe_id
  WHERE a.vec_id != pc.probe_id)
SELECT probe_id, neighbor_id, cos_sim, "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank"
  FROM cand)
WHERE "rank" <= 3
"""

# q_contamination_report: per-benchmark-item 5-gram coverage against the
# corpus vocabulary — mirrors curation.py:contamination_report exactly
# (distinct (item, gram) pairs; corpus-hit grams bounded by the bench
# vocabulary; coverage = matched/total).
ORACLES["q_contamination_report"] = f"""
WITH {_shingles_sql("documents", 5)},
bg AS (SELECT DISTINCT doc_id, shingle FROM
        (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 0)),
ch AS (SELECT DISTINCT cg.shingle FROM
        (SELECT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 0) cg
       JOIN (SELECT DISTINCT shingle FROM bg) v USING (shingle))
SELECT bg.doc_id,
       count(*) AS n_grams,
       count(ch.shingle) AS n_matched,
       CAST(count(ch.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
FROM bg LEFT JOIN ch USING (shingle)
GROUP BY bg.doc_id
"""

# q_epoch_shuffle: seeded md5 rank -> shard + intra-shard position;
# identical hash arithmetic (first 15 md5 hex chars as int64, epoch 3,
# 8 shards) so the permutation replays bit-for-bit.
ORACLES["q_epoch_shuffle"] = """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('3:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key
  FROM documents)
SELECT doc_id,
       CAST(key % 8 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
            AS INTEGER) AS pos
FROM k
"""

# q_count_min: 4x64 Count-Min over lineitem suppliers — cells, probes and
# the min-over-depth estimate all replayed with the identical seeded md5
# bucket hash (operators/sketches.py:_cms_bucket).
ORACLES["q_count_min"] = """
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

# q_hll_setops: per-side registers, the full-outer max merge, and the
# identical closed-form estimates (the q_hll_replay constants), plus
# the exact INTERSECT for the accuracy pin.
ORACLES["q_hll_setops"] = """
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

# q_join_size_est: the CMS self-inner-product (F2) replayed with the
# identical seeded cells; depth axis re-anchored so an empty hash row
# estimates 0; exact = sum of squared per-key counts.
ORACLES["q_join_size_est"] = """
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

# q_hll_replay: HLL registers and the closed-form raw estimate replayed
# with identical integer arithmetic (md5 60-bit base, low-8 register
# index, bin()-length rank, exact power-of-two harmonic sum); the only
# float step is the final literal-constant expression, IEEE-identical.
ORACLES["q_hll_replay"] = """
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

# q_url_canon: the canonicalization regex chain replayed step-for-step
# (DuckDB RE2: 'g' flag for replace-all, \\1 backrefs; patterns are the
# Java/RE2 common subset by construction — no lookaround).
_DUCK_MESSY_URL = _MESSY_URL.replace("AS STRING", "AS VARCHAR").replace(
    "AS INT", "AS INTEGER"
)
_TRK = "(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src)"
ORACLES["q_url_canon"] = f"""
WITH m AS (SELECT doc_id, {_DUCK_MESSY_URL} AS url FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*', '', 'g') AS u FROM m),
s2a AS (SELECT doc_id, url, u,
          regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1) AS head
        FROM s1),
s2 AS (SELECT doc_id, url,
         CASE WHEN head = ''
              THEN u
              ELSE lower(regexp_extract(head, '^([^:]*)://', 1)) || '://'
                   || regexp_extract(head, '^[^:]*://(.*@)?[^@]*$', 1)
                   || lower(regexp_extract(head, '^[^:]*://(?:.*@)?([^@]*)$', 1))
                   || substr(u, length(head) + 1)
         END AS u
       FROM s2a),
s3 AS (SELECT doc_id, url,
         regexp_replace(
           regexp_replace(u, '^(http://[^/:?#]+):80($|[/?#].*)', '\\1\\2', 'g'),
           '^(https://[^/:?#]+):443($|[/?#].*)', '\\1\\2', 'g') AS u
       FROM s2),
s4a AS (SELECT doc_id, url, u, strpos(u, '?') AS qp FROM s3),
s4b AS (SELECT doc_id, url,
          CASE WHEN qp > 0 THEN substr(u, 1, qp - 1) ELSE u END AS pth,
          CASE WHEN qp > 0 THEN substr(u, qp + 1) ELSE '' END AS q
        FROM s4a),
s4c AS (SELECT doc_id, url, pth,
          regexp_replace(
            regexp_replace(
              regexp_replace(q, '&{_TRK}=[^&]*', '', 'g'),
              '^{_TRK}=[^&]*&', '', 'g'),
            '^{_TRK}=[^&]*$', '', 'g') AS q
        FROM s4b),
s4 AS (SELECT doc_id, url,
         CASE WHEN q = '' THEN pth ELSE pth || '?' || q END AS u
       FROM s4c),
s5 AS (SELECT doc_id, url,
         regexp_replace(u, '^([A-Za-z][a-z0-9+.\\-]*://[^/?#]+)$', '\\1/', 'g') AS u
       FROM s4)
SELECT doc_id, url, u AS canon_url,
       regexp_extract(lower(u), '^[a-z][a-z0-9+.\\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) AS host
FROM s5
"""

# q_split_assign / q_token_budget: md5 bucket arithmetic replayed exactly
# (same 15-hex-char int64 base as epoch_shuffle).
ORACLES["q_split_assign"] = """
WITH k AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
  FROM documents)
SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM k GROUP BY 1
"""

ORACLES["q_token_budget"] = f"""
WITH t AS (SELECT doc_id, source, len(str_split({_NORM}, ' ')) AS n_tokens FROM documents
           WHERE len(str_split({_NORM}, ' ')) <= 3000),
k AS (SELECT *,
        ('0x' || substr(md5('2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key
      FROM t),
c AS (SELECT doc_id, source, n_tokens,
        sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM k)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 3000
"""

# q_release_cut: the whole cut-mode release pipeline replayed as one
# composition — gopher gate (nested q_gopher_rules oracle), the
# q_cut_contaminated island/rebuild machinery over the GATED corpus,
# the rewrite + empty-drop + seam-collision re-gate of
# release.py:cut_decontaminate, then the q_token_budget prefix over
# post-surgery whitespace tokens (seed 2, budget 3000).
def _norm_of(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _grams5_of() -> str:
    return (
        "CASE WHEN len(w) >= 5 THEN list_transform("
        "generate_series(1, len(w)-4), "
        "i -> array_to_string(list_slice(w, i, i+4), ' ')) "
        "ELSE [t] END"
    )


ORACLES["q_release_cut"] = f"""
WITH goph AS ({{gopher}}),
corpus AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN goph g ON d.doc_id = g.doc_id
  WHERE g.keep AND d.doc_id % 20 <> 0),
cnorm AS (SELECT doc_id, {_norm_of('text')} AS t FROM corpus),
cw AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM cnorm),
cg AS (SELECT doc_id, len(w) AS n_tokens, {_grams5_of()} AS grams FROM cw),
bnorm AS (SELECT doc_id, {_norm_of('text')} AS t FROM documents
          WHERE doc_id % 20 = 0),
bw AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM bnorm),
bg AS (SELECT doc_id, {_grams5_of()} AS grams FROM bw),
bv AS (SELECT DISTINCT unnest(grams) AS gram FROM bg),
ex AS (SELECT doc_id, n_tokens, generate_subscripts(grams, 1) - 1 AS pos,
              unnest(grams) AS gram FROM cg),
cp AS (SELECT e.doc_id, e.n_tokens, e.pos FROM ex e JOIN bv USING (gram)),
isl AS (SELECT doc_id, n_tokens, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
             THEN 1 ELSE 0 END AS nw FROM cp),
isl2 AS (SELECT doc_id, n_tokens, pos, sum(nw) OVER (
           PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS island FROM isl),
rgx AS (SELECT doc_id, island, min(pos) AS s,
              least(max(pos) + 4, any_value(n_tokens) - 1) AS e
        FROM isl2 GROUP BY doc_id, island),
tok AS (SELECT doc_id, len(w) AS n_tokens,
               generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS token
        FROM cw),
keptt AS (SELECT t.doc_id, t.pos, t.token FROM tok t
          WHERE NOT EXISTS (SELECT 1 FROM rgx r
                            WHERE r.doc_id = t.doc_id
                              AND t.pos BETWEEN r.s AND r.e)),
agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
               count(*) AS kept FROM keptt GROUP BY doc_id),
cutd AS (SELECT c.doc_id, c.source,
           CASE WHEN coalesce(a.kept, 0) < t0.n_tokens
                THEN coalesce(a.clean_text, '') ELSE c.text END AS text2,
           coalesce(a.kept, 0) < t0.n_tokens AS was_cut
         FROM corpus c
         JOIN (SELECT DISTINCT doc_id, n_tokens FROM tok) t0
           ON c.doc_id = t0.doc_id
         LEFT JOIN agg a ON c.doc_id = a.doc_id),
cut2 AS (SELECT doc_id, source, text2, was_cut FROM cutd
         WHERE length(text2) > 0),
rnorm AS (SELECT doc_id, {_norm_of('text2')} AS t FROM cut2 WHERE was_cut),
rw AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM rnorm),
rgrams AS (SELECT doc_id, {_grams5_of()} AS grams FROM rw),
bad AS (SELECT DISTINCT g2.doc_id
        FROM (SELECT doc_id, unnest(grams) AS gram FROM rgrams) g2
        JOIN bv USING (gram)),
cleand AS (SELECT c.* FROM cut2 c LEFT JOIN bad b ON c.doc_id = b.doc_id
           WHERE b.doc_id IS NULL),
tt AS (SELECT doc_id, source, was_cut,
        len(str_split({_norm_of('text2')}, ' ')) AS n_tokens
       FROM cleand),
tf AS (SELECT * FROM tt WHERE n_tokens <= 3000),
k AS (SELECT *, ('0x' || substr(md5('2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        AS key FROM tf),
c2 AS (SELECT doc_id, source, was_cut, n_tokens,
        sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM k)
SELECT doc_id, source, was_cut, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c2 WHERE cum_tokens <= 3000
"""
# the gate is the verbatim q_gopher_rules oracle nested as a CTE (the
# q_corpus_report pattern); .format leaves the SQL body untouched — the
# template's only brace is the {gopher} slot
ORACLES["q_release_cut"] = ORACLES["q_release_cut"].format(
    gopher=ORACLES["q_gopher_rules"]
)


# q_zorder: integer range-bucket coordinates from a 1-row min/max
# frame, Morton interleave as pure shift/mask algebra — both generated
# by the same loop shape as the Spark expression, replayed bit-for-bit.
def _zorder_oracle_sql(
    cols: tuple = ("l_orderkey", "l_partkey"),
    bits: int = 16,
    shard_bits: int = 4,
) -> str:
    top = (1 << bits) - 1
    n = len(cols)
    stats = ", ".join(
        f"CAST(min({c}) AS BIGINT) AS mn_{c}, CAST(max({c}) AS BIGINT) AS mx_{c}"
        for c in cols
    )
    coords = ", ".join(
        f"CASE WHEN l.{c} IS NULL OR s.mx_{c} IS NULL "
        f"OR (s.mx_{c} - s.mn_{c}) <= 0 THEN 0 "
        f"ELSE ((CAST(l.{c} AS BIGINT) - s.mn_{c}) * {top}) "
        f"// (s.mx_{c} - s.mn_{c}) END AS coord_{j}"
        for j, c in enumerate(cols)
    )
    z = " | ".join(
        f"(((coord_{j} >> {i}) & 1) << {i * n + j})"
        for j in range(n)
        for i in range(bits)
    )
    outs = ", ".join(
        f"CAST(min({c}) AS BIGINT) AS min_{c}, CAST(max({c}) AS BIGINT) AS max_{c}"
        for c in cols
    )
    keep = ", ".join(f"l.{c}" for c in cols)
    return f"""
WITH s AS (SELECT {stats} FROM lineitem),
coords AS (SELECT {keep}, {coords} FROM lineitem l CROSS JOIN s),
z AS (SELECT {", ".join(cols)}, {z} AS zkey FROM coords)
SELECT CAST(zkey >> {bits * n - shard_bits} AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_rows, {outs}
FROM z GROUP BY 1
"""


ORACLES["q_zorder"] = _zorder_oracle_sql()


# q_skew_report: exact key counts; the global stats fold and the
# top-k both run over the bounded count table; the ratio and its ceil
# are fixed-shape double expressions over exact longs.
ORACLES["q_skew_report"] = """
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


# q_quality_checks: each constraint is the same exact-count ratio (or
# exact min) the Spark aggregate computes; the report shape is one
# UNION ALL branch per constraint over the same base aggregates.
ORACLES["q_quality_checks"] = """
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

# q_validated_batch: the grouped contract gate replayed — md5-seeded
# corruption, per-batch exact-count metrics, the three-constraint
# conjunction and the main/quarantine verdict.
ORACLES["q_validated_batch"] = """
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


# q_cut_contaminated: the cut_dup_spans island/rebuild replay with the
# cut condition swapped to bench-vocabulary membership.
ORACLES["q_cut_contaminated"] = f"""
WITH {_shingles_sql("documents", 5).replace("sh AS", "g0 AS")},
g AS (SELECT g0.doc_id, len(w.w) AS n_tokens, g0.shingles AS grams
      FROM g0 JOIN w ON g0.doc_id = w.doc_id),
ex AS (SELECT doc_id, n_tokens, generate_subscripts(grams, 1) - 1 AS pos,
              unnest(grams) AS gram FROM g WHERE doc_id % 20 <> 0),
bv AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0),
cp AS (SELECT e.doc_id, e.n_tokens, e.pos FROM ex e JOIN bv USING (gram)),
isl AS (SELECT doc_id, n_tokens, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
             THEN 1 ELSE 0 END AS nw FROM cp),
isl2 AS (SELECT doc_id, n_tokens, pos, sum(nw) OVER (
           PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS island FROM isl),
rg AS (SELECT doc_id, island, min(pos) AS s,
              least(max(pos) + 4, any_value(n_tokens) - 1) AS e
       FROM isl2 GROUP BY doc_id, island),
tok AS (SELECT doc_id, len(w) AS n_tokens,
               generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS token
        FROM w WHERE doc_id % 20 <> 0),
keptt AS (SELECT t.doc_id, t.pos, t.token FROM tok t
          WHERE NOT EXISTS (SELECT 1 FROM rg r
                            WHERE r.doc_id = t.doc_id
                              AND t.pos BETWEEN r.s AND r.e)),
agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
               count(*) AS kept FROM keptt GROUP BY doc_id)
SELECT d.doc_id, d.text, coalesce(a.clean_text, '') AS clean_text,
       t0.n_tokens, CAST(coalesce(a.kept, 0) AS INTEGER) AS kept_tokens
FROM documents d
JOIN (SELECT DISTINCT doc_id, n_tokens FROM tok) t0 ON d.doc_id = t0.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
WHERE d.doc_id % 20 <> 0
"""

# q_line_filter: the line rules replayed with DuckDB list_filter.
ORACLES["q_line_filter"] = """
WITH m AS (SELECT doc_id,
  text || chr(10) || 'nav'
       || chr(10) || 'Please accept our cookie policy to continue.'
       || chr(10) || 'This synthetic closing line ends properly.'
       || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || ' summary line without punct'
  AS t FROM documents),
l AS (SELECT doc_id, str_split(t, chr(10)) AS ls FROM m),
k AS (SELECT doc_id, ls,
        list_filter(ls, x ->
          len(list_filter(regexp_split_to_array(
                regexp_replace(regexp_replace(x, '^[ \t]+', ''), '[ \t]+$', ''),
                '[ \t]+'), y -> y != '')) >= 3
          AND right(regexp_replace(regexp_replace(x, '^[ \t]+', ''), '[ \t]+$', ''), 1)
              IN ('.', '!', '?', '"')
          AND NOT contains(lower(x), 'lorem ipsum')
          AND NOT contains(lower(x), 'javascript')
          AND NOT contains(lower(x), 'cookie')
          AND NOT contains(lower(x), 'terms of use')
          AND NOT contains(lower(x), 'privacy policy')) AS kept
      FROM l)
SELECT doc_id, len(ls) AS n_lines, len(kept) AS kept_lines,
       array_to_string(kept, chr(10)) AS clean_text
FROM k
"""

# q_containment: shingle-set containment replayed over the dup-injected
# lineage pairs (trigram CTE shared with the jaccard family).
ORACLES["q_containment"] = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000, text || ' zzzextra' FROM documents WHERE doc_id % 11 = 0),
{_SHINGLES.format(src="base")},
shd AS (SELECT s2.doc_id,
          CASE WHEN n2.t <> '' THEN list_distinct(s2.shingles)
               ELSE CAST([] AS VARCHAR[]) END AS s
        FROM sh s2 JOIN norm n2 USING (doc_id)),
p AS (SELECT doc_id AS id_a, doc_id + 200000 AS id_b FROM documents
      WHERE doc_id % 11 = 0),
j AS (SELECT p.id_a, p.id_b,
        len(a.s) AS n_a, len(b.s) AS n_b,
        len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter
      FROM p JOIN shd a ON a.doc_id = p.id_a
             JOIN shd b ON b.doc_id = p.id_b)
SELECT id_a, id_b, n_a, n_b, inter,
       CASE WHEN n_a > 0 THEN CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) END AS c_a,
       CASE WHEN n_b > 0 THEN CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) END AS c_b,
       coalesce(CASE WHEN n_a > 0
                  THEN CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) END >= 0.9, FALSE)
       OR coalesce(CASE WHEN n_b > 0
                  THEN CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) END >= 0.9, FALSE)
         AS contained
FROM j
"""

# q_lang_margin: the same per-language stopword counts as q_lang_id,
# plus a sorted-array top-2 margin — exact integers end to end.
ORACLES["q_lang_margin"] = f"""
WITH w AS (SELECT doc_id, str_split({_NORM}, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
  len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','es'], x))) AS s_es,
  len(list_filter(toks, x -> list_contains(['le','la','de','et','que','en','est'], x))) AS s_fr,
  len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','ist'], x))) AS s_de
  FROM w),
m AS (SELECT doc_id, s_en, s_es, s_fr, s_de,
        list_sort([s_en, s_es, s_fr, s_de]) AS srt FROM s)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
    WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
    WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
    WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
    ELSE 'fr' END AS lang_guess,
  CAST(srt[4] AS INTEGER) AS top_hits,
  CAST(srt[4] - srt[3] AS INTEGER) AS margin,
  (srt[4] >= 2 AND srt[4] - srt[3] >= 1) AS confident
FROM m
"""

# q_binned_quantiles: histogram bins, bounded cumulative window, and the
# identical interpolation expression — exact ints feeding fixed-shape
# doubles.
ORACLES["q_binned_quantiles"] = """
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

# q_triangles: the full degree-ordered-orientation replay — canonical
# (lo, hi) edges from the same-order part self-join, degrees, (deg, id)
# orientation, wedge join ordered on the destination key, closure via
# EXISTS, 3-role credit union — exact integers; lcc is one IEEE division.
ORACLES["q_triangles"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.a ELSE r.b END AS src,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.b ELSE r.a END AS dst,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN db.deg ELSE da.deg END AS sd
  FROM raw r
  JOIN deg da ON da.id = r.a
  JOIN deg db ON db.id = r.b),
wedge AS (
  SELECT x.src AS u, x.dst AS v, y.dst AS w
  FROM o x JOIN o y
    ON x.src = y.src
   AND (x.sd < y.sd OR (x.sd = y.sd AND x.dst < y.dst))),
tri AS (
  SELECT u, v, w FROM wedge
  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wedge.v AND o.dst = wedge.w)),
credit AS (
  SELECT id, count(*) AS t FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri) GROUP BY id)
SELECT d.id, d.deg,
       CAST(coalesce(c.t, 0) AS BIGINT) AS triangles,
       CASE WHEN d.deg >= 2
            THEN (2.0 * CAST(coalesce(c.t, 0) AS DOUBLE))
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN credit c ON c.id = d.id
ORDER BY d.id
"""

# q_dedup_lines: the keep-first lambda replayed — DuckDB's list_filter
# index is 1-based, so predecessors are list_slice(lines, 1, i-1)
# where Spark's 0-based index uses slice(lines, 1, i).
ORACLES["q_dedup_lines"] = """
WITH multi AS (
  SELECT doc_id,
         concat_ws(chr(10),
           substr(text, 1, 40), substr(text, 41, 40), substr(text, 1, 40),
           'shared footer line', 'shared footer line',
           substr(text, 81, 40)) AS t
  FROM documents),
l AS (SELECT doc_id, str_split(t, chr(10)) AS lines FROM multi),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, (x, i) ->
           coalesce(list_position(list_slice(lines, 1, i - 1), x), 0) = 0)
           AS kept
  FROM l)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(len(kept) AS INTEGER) AS n_kept,
       array_to_string(kept, chr(10)) AS clean_text
FROM k ORDER BY doc_id
"""

# q_luhn_scan: digit runs, 16-length filter and the Luhn fold replayed
# as the identical list_transform/list_sum arithmetic.
ORACLES["q_luhn_scan"] = """
WITH inj AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 5 = 0 THEN ' card 4532015112830366' ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN ' ref 4532015112830367' ELSE '' END AS t
  FROM documents),
r AS (SELECT doc_id, regexp_extract_all(t, '[0-9]+') AS runs FROM inj),
c AS (SELECT doc_id, len(runs) AS n_digit_runs,
             list_filter(runs, x -> length(x) = 16) AS cands FROM r),
v AS (SELECT doc_id, n_digit_runs, len(cands) AS n_pan_candidates,
             len(list_filter(cands, x ->
               list_sum(list_transform(generate_series(1, 16), p ->
                 CASE WHEN (17 - p) % 2 = 1
                      THEN CAST(substr(x, p, 1) AS INTEGER)
                      ELSE CASE
                        WHEN 2 * CAST(substr(x, p, 1) AS INTEGER) > 9
                        THEN 2 * CAST(substr(x, p, 1) AS INTEGER) - 9
                        ELSE 2 * CAST(substr(x, p, 1) AS INTEGER) END
                 END)) % 10 = 0)) AS n_luhn_valid
      FROM c)
SELECT doc_id,
       CAST(n_digit_runs AS INTEGER) AS n_digit_runs,
       CAST(n_pan_candidates AS INTEGER) AS n_pan_candidates,
       CAST(n_luhn_valid AS INTEGER) AS n_luhn_valid,
       n_luhn_valid > 0 AS has_pan
FROM v WHERE n_pan_candidates > 0 ORDER BY doc_id
"""

# q_kmv_distinct: bottom-k of distinct md5 hashes, literal-constant
# estimator, one division; under-full branch returns the exact count.
ORACLES["q_kmv_distinct"] = """
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

# q_benford: observed first-digit rates vs the nine shared literal
# probabilities — no log10 evaluated anywhere.
ORACLES["q_benford"] = """
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

# q_fk_audit: the two anti joins replayed as NOT EXISTS, exact counts,
# one division per relation.
ORACLES["q_fk_audit"] = """
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

# q_winsorized_mean: exact rank-statistic bounds off the distinct-value
# collapse, clip, decimal-exact fold, one division per source.
ORACLES["q_winsorized_mean"] = """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
g AS (SELECT n_chars, count(*) AS cnt FROM d GROUP BY 1),
p AS (
  SELECT n_chars, cnt,
         coalesce(sum(cnt) OVER (ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM g),
t AS (SELECT count(*) AS n FROM d),
b05 AS (
  SELECT min(n_chars) AS p05 FROM p CROSS JOIN t
  WHERE below < ceil(n * 5 / 100) AND ceil(n * 5 / 100) <= below + cnt),
b95 AS (
  SELECT min(n_chars) AS p95 FROM p CROSS JOIN t
  WHERE below < ceil(n * 95 / 100) AND ceil(n * 95 / 100) <= below + cnt),
c AS (
  SELECT source, least(greatest(n_chars, p05), p95) AS cv, p05, p95
  FROM d CROSS JOIN b05 CROSS JOIN b95)
SELECT source, count(*) AS n_docs,
       CAST(sum(cv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS wins_mean,
       min(p05) AS p05, min(p95) AS p95
FROM c GROUP BY source ORDER BY source
"""

# q_quantile_norm: mid-rank normalization replayed — distinct-value
# counts, strictly-prior cumulative window, integer numerator, one
# division per row.
ORACLES["q_quantile_norm"] = """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
g AS (SELECT n_chars, count(*) AS cnt FROM d GROUP BY 1),
p AS (
  SELECT n_chars, cnt,
         coalesce(sum(cnt) OVER (ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM g),
t AS (SELECT count(*) AS n FROM d)
SELECT doc_id, source, n_chars,
       CAST(2 * below + cnt AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS q_norm
FROM d JOIN p USING (n_chars) CROSS JOIN t
ORDER BY doc_id
"""

# q_hll_weekly: the register prefix replay — per-week registers, dense
# week x idx frame, running max along the week axis, per-week harmonic
# fold with the q_hll_replay estimator constants, cumulative first-seen
# exact counts alongside.
ORACLES["q_hll_weekly"] = """
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

# q_decay_counts: exact binary decay replayed — shifted int weights,
# int64 sum, one final division by 2^30.
ORACLES["q_decay_counts"] = """
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

# q_edit_join: the deletion-neighborhood join replayed — list_distinct
# deletion variants, equi-join on the variant key, levenshtein verify.
ORACLES["q_edit_join"] = """
WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
keys AS (
  SELECT id, s,
         unnest(list_distinct(list_append(
           list_transform(generate_series(1, length(s)),
             i -> substr(s, 1, i - 1) || substr(s, i + 1, length(s))),
           s))) AS k
  FROM c),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS name_a, b.s AS name_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 1
ORDER BY id_a, id_b
"""

# q_token_drift: the exact-rational TV distance replayed in HUGEINT —
# present-token |c*T - C*Ts| sum plus the absent-mass fold
# (T - presC)*Ts, one IEEE division per source.
ORACLES["q_token_drift"] = f"""
WITH w AS (
  SELECT source, unnest(str_split({_NORM}, ' ')) AS tok FROM documents),
tk AS (SELECT source, tok FROM w WHERE tok != ''),
per AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
gtok AS (SELECT tok, sum(c) AS gc FROM per GROUP BY 1),
srct AS (SELECT source, sum(c) AS ts FROM per GROUP BY 1),
tot AS (SELECT sum(ts) AS tt FROM srct),
j AS (
  SELECT p.source,
         abs(CAST(p.c AS HUGEINT) * t.tt - CAST(g.gc AS HUGEINT) * s.ts) AS term,
         g.gc
  FROM per p
  JOIN gtok g USING (tok)
  JOIN srct s USING (source)
  CROSS JOIN tot t),
a AS (
  SELECT source, sum(term) AS a_sum, sum(CAST(gc AS HUGEINT)) AS presc
  FROM j GROUP BY 1)
SELECT a.source,
       CAST(s.ts AS BIGINT) AS n_tokens,
       CAST(CAST(a.a_sum + (t.tt - a.presc) * s.ts AS VARCHAR) AS DOUBLE)
         / (2.0 * CAST(CAST(s.ts AS VARCHAR) AS DOUBLE)
            * CAST(CAST(t.tt AS VARCHAR) AS DOUBLE)) AS tv
FROM a JOIN srct s USING (source) CROSS JOIN tot t
ORDER BY a.source
"""

# q_communities: both synchronous label-propagation rounds unrolled —
# neighbor-label messages, (node, label) counts, argmax with the
# count-desc/label-asc total order, isolated-node coalesce.
ORACLES["q_communities"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
adj AS (SELECT a AS u, b AS v FROM raw UNION ALL SELECT b, a FROM raw),
n AS (SELECT DISTINCT u AS id FROM adj),
l0 AS (SELECT id, id AS label FROM n),
c1 AS (
  SELECT adj.u, l0.label, count(*) AS c
  FROM adj JOIN l0 ON l0.id = adj.v GROUP BY 1, 2),
b1 AS (
  SELECT u, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
    FROM c1) WHERE rn = 1),
l1 AS (
  SELECT n.id, coalesce(b1.label, n.id) AS label
  FROM n LEFT JOIN b1 ON b1.u = n.id),
c2 AS (
  SELECT adj.u, l1.label, count(*) AS c
  FROM adj JOIN l1 ON l1.id = adj.v GROUP BY 1, 2),
b2 AS (
  SELECT u, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
    FROM c2) WHERE rn = 1),
l2 AS (
  SELECT n.id, coalesce(b2.label, n.id) AS label
  FROM n LEFT JOIN b2 ON b2.u = n.id)
SELECT id, label FROM l2 ORDER BY id
"""

# q_triangle_est: the same orientation replay over the FULL co-purchase
# graph, with the md5 center sample cutting the wedge join — exact
# integers, one row.
ORACLES["q_triangle_est"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.a ELSE r.b END AS src,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.b ELSE r.a END AS dst,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN db.deg ELSE da.deg END AS sd
  FROM raw r
  JOIN deg da ON da.id = r.a
  JOIN deg db ON db.id = r.b),
c AS (
  SELECT * FROM o
  WHERE ('0x' || substr(md5('8:' || CAST(src AS VARCHAR)), 1, 15))::BIGINT % 5 = 0),
wedge AS (
  SELECT x.src AS u, x.dst AS v, y.dst AS w
  FROM c x JOIN c y
    ON x.src = y.src
   AND (x.sd < y.sd OR (x.sd = y.sd AND x.dst < y.dst))),
tri AS (
  SELECT u, v, w FROM wedge
  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wedge.v AND o.dst = wedge.w))
SELECT CAST(5 AS BIGINT) AS rate_den,
       CAST(count(*) AS BIGINT) AS sampled_triangles,
       CAST(count(*) * 5 AS BIGINT) AS est_triangles
FROM tri
"""

# q_hll_by_group: the grouped register algebra replayed — per-group
# registers, keyed harmonic folds, and the '__all__' roll-up from max
# over groups; identical estimator constants to q_hll_replay.
ORACLES["q_hll_by_group"] = """
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

# q_record_linkage: the blocked Fellegi–Sunter score replayed — nation
# blocking, levenshtein on the name numbers, balance proximity, integer
# weights, best-per-supplier argmax with the custkey tiebreak.
ORACLES["q_record_linkage"] = """
WITH s AS (
  SELECT s_suppkey, split_part(s_name, '#', 2) AS s_num,
         s_nationkey, s_acctbal
  FROM supplier),
c AS (
  SELECT c_custkey, split_part(c_name, '#', 2) AS c_num,
         c_nationkey, c_acctbal
  FROM customer),
j AS (
  SELECT s_suppkey, c_custkey,
         coalesce(levenshtein(s_num, c_num) <= 2, FALSE) AS m_num,
         coalesce(abs(s_acctbal - c_acctbal) <= 100.0, FALSE) AS m_bal
  FROM s JOIN c ON s_nationkey = c_nationkey),
scored AS (
  SELECT s_suppkey, c_custkey, m_num, m_bal,
         CAST((CASE WHEN m_num THEN 5 ELSE -3 END)
            + (CASE WHEN m_bal THEN 2 ELSE -1 END) AS INTEGER) AS score
  FROM j),
kept AS (SELECT * FROM scored WHERE score >= 4),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY s_suppkey ORDER BY score DESC, c_custkey) AS rn
  FROM kept)
SELECT s_suppkey, c_custkey, m_num, m_bal, score
FROM best WHERE rn = 1
ORDER BY s_suppkey
"""

# q_jaccard_exact: first-principles ground truth for the AllPairs
# prefix-filter join — full co-shingle intersection counts over the
# dup-injected corpus, one IEEE division per surviving pair. That the
# prefix-filtered Spark plan hash-matches this is the losslessness
# proof at oracle grade.
ORACLES["q_jaccard_exact"] = f"""
WITH {_DOCS_WITH_DUPS},
{_SHINGLES.format(src="docs2")},
ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT co.id_a, co.id_b,
       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM co
JOIN sz sa ON sa.doc_id = co.id_a
JOIN sz sb ON sb.doc_id = co.id_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
ORDER BY co.id_a, co.id_b
"""

# q_quantiles_by_group: the grouped histogram sketch replayed — per-source
# spans, per-source 256-bin counts, PARTITION BY source cumulative window,
# identical interpolation expression to q_binned_quantiles.
ORACLES["q_quantiles_by_group"] = """
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

# q_drift_report: both sides' single-scan metric rows, the broadcast
# cross join, and the per-column verdict algebra replayed with the same
# tolerance literals (0.02 / 0.10 / 0.05).
ORACLES["q_drift_report"] = """
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

# q_kcore: three peels unrolled — degree count, >= 20 keep-set, two-sided
# keep join, repeated; output is the surviving subgraph's degree table.
ORACLES["q_kcore"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
d0 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
k0 AS (SELECT id FROM d0 WHERE deg >= 20),
e1 AS (SELECT r.a, r.b FROM raw r
       JOIN k0 x ON x.id = r.a JOIN k0 y ON y.id = r.b),
d1 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY id),
k1 AS (SELECT id FROM d1 WHERE deg >= 20),
e2 AS (SELECT r.a, r.b FROM e1 r
       JOIN k1 x ON x.id = r.a JOIN k1 y ON y.id = r.b),
d2 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id),
k2 AS (SELECT id FROM d2 WHERE deg >= 20),
e3 AS (SELECT r.a, r.b FROM e2 r
       JOIN k2 x ON x.id = r.a JOIN k2 y ON y.id = r.b)
SELECT id, deg FROM (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id)
ORDER BY id
"""

# q_trend_by_group: the five exact moment sums and the identical
# double-algebra closing expression — epoch seconds shifted to the same
# origin; DuckDB decimal sums are the same mathematical values.
ORACLES["q_trend_by_group"] = """
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

# q_quantile_bins: the full chain replayed — the q_binned_quantiles
# histogram with deciles as the quantile set, cut points collected into
# one sorted list, strict-less-than in-row assignment, per-bin audit.
ORACLES["q_quantile_bins"] = """
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

# q_calibration: equi-width score bins from the 1-row min/max frame,
# exact per-bin counts, decimal score sums, one IEEE division per
# output column — the q_classifier_eval fixture, binned.
ORACLES["q_calibration"] = """
WITH base AS (
  SELECT CAST(n_chars AS DOUBLE) AS s,
         CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS l
  FROM documents),
stats AS (SELECT min(s) AS mn, max(s) AS mx FROM base),
binned AS (
  SELECT CASE WHEN (mx - mn) <= 0 THEN 0
              ELSE least(9, CAST(floor((s - mn) / (mx - mn) * 10) AS INTEGER))
         END AS bin,
         s, l
  FROM base CROSS JOIN stats),
g AS (
  SELECT bin, count(*) AS n,
         CAST(sum(l) AS BIGINT) AS n_pos,
         sum(CAST(CAST(s AS DECIMAL(28,6)) * 1000000 AS DECIMAL(34,0))) AS ssum
  FROM binned GROUP BY bin)
SELECT bin, CAST(n AS BIGINT) AS n, n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
       (CAST(ssum AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS mean_score
FROM g ORDER BY bin
"""


def _pagerank_seeded_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled replay of graph.py::pagerank_personalized over the same
    dup-attribution arcs as q_pagerank_directed, seeds = id%10==0
    nodes: teleport + dangling credit gated by seed membership, initial
    rank uniform on the seeds, zero elsewhere.  Non-negative integer
    div/sum throughout — DuckDB // floors exactly like Spark div."""
    head = f"""
WITH {_MINHASH_EDGES},
arcs AS (SELECT id_b AS src, id_a AS dst FROM edges),
nodes AS (SELECT DISTINCT id FROM
  (SELECT src AS id FROM arcs UNION ALL SELECT dst AS id FROM arcs)),
odeg AS (SELECT src, count(*) AS deg FROM arcs GROUP BY src),
seeds AS (SELECT id FROM nodes WHERE id % 10 = 0),
ss AS (SELECT count(*) AS s FROM seeds),
tp AS (SELECT CAST((1000000000000 * 15) // (100 * s) AS BIGINT) AS t,
              CAST(1000000000000 // s AS BIGINT) AS r_init,
              s FROM ss),
fl AS (SELECT n.id, sd.id IS NOT NULL AS is_seed
       FROM nodes n LEFT JOIN seeds sd ON sd.id = n.id),
pr0 AS (SELECT fl.id,
               CASE WHEN fl.is_seed THEN tp.r_init ELSE CAST(0 AS BIGINT) END
                 AS rank
        FROM fl CROSS JOIN tp)"""
    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f""",
dang{t} AS (
  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dm
  FROM pr{t - 1} r LEFT JOIN odeg d ON d.src = r.id
  WHERE d.src IS NULL),
sums{t} AS (
  SELECT a.dst AS id,
         CAST(sum((r.rank * 85) // (100 * d.deg)) AS BIGINT) AS s
  FROM arcs a
  JOIN pr{t - 1} r ON r.id = a.src
  JOIN odeg d ON d.src = a.src
  GROUP BY a.dst),
pr{t} AS (
  SELECT fl.id,
         CAST(coalesce(s.s, 0)
              + CASE WHEN fl.is_seed
                     THEN (dang{t}.dm * 85) // (100 * tp.s) + tp.t
                     ELSE 0 END
              AS BIGINT) AS rank
  FROM fl
  LEFT JOIN sums{t} s ON s.id = fl.id
  CROSS JOIN dang{t} CROSS JOIN tp)""")
    return head + "".join(rounds) + f"""
SELECT id, rank FROM pr{n_iter} ORDER BY id"""


ORACLES["q_pagerank_seeded"] = _pagerank_seeded_oracle_sql(3)

# q_assoc_rules: distinct basket-item pairs, integer pair/item counts,
# and the three association measures as single divisions of integer
# products; identical top-50 total order (lift desc, a, b).
ORACLES["q_assoc_rules"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nn AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
item AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY l_partkey),
pair AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS c_ab
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 5)
SELECT p.a, p.b, p.c_ab, ia.c AS c_a, ib.c AS c_b,
       CAST(p.c_ab AS DOUBLE) / CAST(nn.n AS DOUBLE) AS support,
       CAST(p.c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE) AS confidence,
       CAST(p.c_ab * nn.n AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE) AS lift
FROM pair p
JOIN item ia ON ia.l_partkey = p.a
JOIN item ib ON ib.l_partkey = p.b
CROSS JOIN nn
ORDER BY lift DESC, p.a, p.b
LIMIT 50
"""

# q_drift_weekly: per-week exact metrics (scale-0 decimal value sums),
# lag() deltas on the bounded week axis, identical tolerance literals.
ORACLES["q_drift_weekly"] = """
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

# q_seasonal_outliers: hour buckets, exact scale-0 moments, and the
# identical sqrt-free squared-deviation comparison tree.
ORACLES["q_seasonal_outliers"] = """
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

# q_weighted_median: distinct-value weight sums, per-group running and
# total weights, the cross-multiplied integer threshold, min qualifying
# value — division never occurs.
ORACLES["q_weighted_median"] = """
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

# q_source_gini: |sources|-row mass table, (mass, source) rank, and the
# identical closed-form expression — exact integer sums, one double tree.
ORACLES["q_source_gini"] = """
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

# q_rank_sum: midrank identity replayed over the distinct-value axis —
# per-value doubled A-contribution cnt_a*(2*below + t + 1) in HUGEINT,
# one final division for the AUC.
ORACLES["q_rank_sum"] = """
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

# q_ks_stat: cross-multiplied integer ECDF gap, argmax = (max gap, min
# value) — the struct-max total order restated as two scalar subqueries.
ORACLES["q_ks_stat"] = """
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

# q_cusum: |m*S_k - k*S_m| in HUGEINT over the bounded day axis,
# argmax to the smallest attaining day, one division at the end.
ORACLES["q_cusum"] = """
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

# q_autocorr: consecutive-day pairs by equi-join on day+1, five exact
# HUGEINT moments, r2 = (num/d1)*(num/d2) and the sign — sqrt-free.
ORACLES["q_autocorr"] = """
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

# q_interval_coverage: bounded day-grain explode via generate_series,
# distinct union, island starts as the predecessor-day NOT EXISTS.
ORACLES["q_interval_coverage"] = """
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

# q_collocations: bigrams by 1-based lateral generate_series over the
# token array, lift as exact-int double casts — identical op tree.
ORACLES["q_collocations"] = f"""
WITH t AS (SELECT str_split({_NORM}, ' ') AS toks FROM documents),
pairs AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
pc AS (SELECT w1, w2, count(*) AS c_xy FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT w, count(*) AS c_w
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM pc)
SELECT pc.w1, pc.w2, pc.c_xy, u1.c_w AS c_x, u2.c_w AS c_y,
       tot.n_bigrams,
       (CAST(pc.c_xy AS DOUBLE) * CAST(tot.n_bigrams AS DOUBLE))
         / (CAST(u1.c_w AS DOUBLE) * CAST(u2.c_w AS DOUBLE)) AS lift
FROM pc
JOIN uni u1 ON u1.w = pc.w1
JOIN uni u2 ON u2.w = pc.w2
CROSS JOIN tot
WHERE pc.c_xy >= 5
ORDER BY lift DESC, w1, w2
LIMIT 50
"""

# q_hhi: per-customer exact cents, HUGEINT squares, one division on
# double casts of the scale-0 aggregates.
ORACLES["q_hhi"] = """
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

# q_simpson: unbiased Simpson index, per-term n(n-1) in HUGEINT, one
# division one subtraction.
ORACLES["q_simpson"] = """
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

# q_fd_violations: one countDistinct rollup per declared dependency.
ORACLES["q_fd_violations"] = """
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

# q_skyline: the sort-based prefix-max reduction restated in SQL (the
# independent brute-force NOT EXISTS form is tests/test_skyline.py).
ORACLES["q_skyline"] = """
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

# q_spearman: midranks doubled to stay integer (2r = 2*below + ties + 1),
# five HUGEINT moments over the doubled ranks, rho2/sign at the end —
# the q_rank_sum prefix identity restated per axis.  The final
# num/d1/d2 exceed 2^53 at sf0.1, and DuckDB's direct HUGEINT->DOUBLE
# cast DOUBLE-ROUNDS (upper*2^64 + lower, two roundings — the r9 sweep
# caught rho2 off by ulps) while Spark's decimal->double is correctly
# rounded; routing the conversion through VARCHAR makes DuckDB use its
# correctly-rounded string parser, restoring bit parity.
ORACLES["q_spearman"] = """
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

# q_runs_test: lower median = smallest value whose prefix count reaches
# ceil(n/2); exact-median days drop; run starts are lag transitions.
ORACLES["q_runs_test"] = """
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

# q_mann_kendall: S over day pairs on the bounded day axis; ties
# contribute zero; one division for the dominance effect size.
ORACLES["q_mann_kendall"] = """
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

# q_kanonymity: one quasi-key groupBy -> class table, 3-row k explode,
# re-aggregate; l-diversity counts are k-independent.
ORACLES["q_kanonymity"] = """
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

# q_chisq: per-cell |obs*N - row_m*col_m| in HUGEINT, chi2 contribution
# as (dev/den)*dev — per-cell independent IEEE ops, both engines agree.
ORACLES["q_chisq"] = """
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

# q_edit2_join: the oracle verifies by INDEPENDENT brute force — a full
# O(block^2) levenshtein join inside the blocking key (bounded: one
# nation), which is exactly what the FastSS neighborhood join must
# reproduce.  DuckDB's levenshtein matches Spark's (plain edit distance).
ORACLES["q_edit2_join"] = """
WITH c AS (
  SELECT c_custkey, c_name FROM customer WHERE c_nationkey = 7)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM c a JOIN c b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
ORDER BY id_a, id_b
"""

# q_theilsen: pairwise day-slopes as single IEEE divisions of exact
# ints, lower median by distinct-slope prefix rank selection.
ORACLES["q_theilsen"] = """
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

# q_kappa: the q_lang_id stopword scorer replayed, then exact margins;
# kappa = (agree*N - pe)/(N*N - pe), VARCHAR-routed doubles.
ORACLES["q_kappa"] = f"""
WITH w AS (SELECT doc_id, str_split({_NORM}, ' ') AS toks FROM documents),
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

# q_cochran_armitage: T = sum s_i(r_i*N - R*n_i) in HUGEINT over the
# bounded score axis, effect = T/N^2 — VARCHAR-routed doubles.
ORACLES["q_cochran_armitage"] = """
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

# q_mad_outliers: grouped lower medians off the per-group distinct-value
# prefix (value axis, then deviation axis), exact integer outlier gate.
ORACLES["q_mad_outliers"] = """
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

# q_leakage_split: the q_dedup_keepset reachability closure, labels to
# every node (unpaired docs keep their own id), then the q_split_assign
# md5-mod arithmetic keyed on the CLUSTER label.
ORACLES["q_leakage_split"] = f"""
WITH RECURSIVE {_MINHASH_EDGES},
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
rep AS (SELECT src AS node, least(src, min(dst)) AS label
        FROM reach GROUP BY src),
lab AS (
  SELECT d.doc_id, coalesce(rep.label, d.doc_id) AS cluster_label
  FROM docs2 d LEFT JOIN rep ON d.doc_id = rep.node),
k AS (
  SELECT doc_id, cluster_label,
         ('0x' || substr(md5('0:' || CAST(cluster_label AS VARCHAR)), 1, 15))::BIGINT
           % 100 AS b
  FROM lab)
SELECT doc_id, cluster_label,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM k
"""

# q_hh_twopass: the sketch only PRUNES (one-sided CMS error -> candidate
# superset), so the exact-verified output equals the plain HAVING answer.
ORACLES["q_hh_twopass"] = """
SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY 1 HAVING count(*) >= 35
"""

ORACLES["q_mcnemar"] = f"""
WITH w AS (SELECT doc_id, lang, str_split({_NORM}, ' ') AS toks FROM documents),
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

# q_welch_t: exact HUGEINT ingredients, VARCHAR-routed to double, then
# the IDENTICAL IEEE expression tree as operators/stats.py:welch_t.
# Group B via IS DISTINCT FROM: a NULL-lang row lands in group B, the
# operator's coalesce(in_a, FALSE) convention (NULL-counts-as-negative).
ORACLES["q_welch_t"] = """
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

# q_kruskal: doubled-midrank identity replayed on the distinct-length
# axis; per-group exact HUGEINT rank sums, VARCHAR-routed doubles.
ORACLES["q_kruskal"] = """
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

# q_kendall_tau: bounded day-axis pair wedge, exact tie-aware counts,
# sqrt-free signed tau-b square.  The outer NULL filter replays the
# operator's up-front exclusion of NULL day/measure rows (no-op on
# clean data: x/y are COUNTs here).
ORACLES["q_kendall_tau"] = """
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

# q_anova_cells: exact HUGEINT (n, S, Q) per flag, VARCHAR-routed,
# identical IEEE tree as operators/stats.py:anova_cells.
ORACLES["q_anova_cells"] = """
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

# q_hits: two unrolled HITS rounds over the attribution arcs — sparse
# per-round sums (a node absent from a round table contributes 0),
# zero-filled dense report, VARCHAR-routed exact HUGEINT scores.
ORACLES["q_hits"] = f"""
WITH {_MINHASH_EDGES},
arcs AS (SELECT DISTINCT id_b AS src, id_a AS dst FROM edges),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM arcs UNION ALL SELECT dst FROM arcs)),
a0 AS (SELECT id, CAST(1 AS HUGEINT) AS auth FROM nodes),
h1 AS (
  SELECT arcs.src AS id, sum(a0.auth) AS hub
  FROM arcs JOIN a0 ON a0.id = arcs.dst GROUP BY 1),
a1 AS (
  SELECT arcs.dst AS id, sum(h1.hub) AS auth
  FROM arcs JOIN h1 ON h1.id = arcs.src GROUP BY 1),
h2 AS (
  SELECT arcs.src AS id, sum(a1.auth) AS hub
  FROM arcs JOIN a1 ON a1.id = arcs.dst GROUP BY 1),
a2 AS (
  SELECT arcs.dst AS id, sum(h2.hub) AS auth
  FROM arcs JOIN h2 ON h2.id = arcs.src GROUP BY 1)
SELECT n.id,
       CAST(CAST(coalesce(a2.auth, 0) AS VARCHAR) AS DOUBLE) AS auth,
       CAST(CAST(coalesce(h2.hub, 0) AS VARCHAR) AS DOUBLE) AS hub
FROM nodes n
LEFT JOIN a2 ON a2.id = n.id
LEFT JOIN h2 ON h2.id = n.id
ORDER BY n.id
"""

# q_bfs_hops: three unrolled frontier rounds over the sliced
# co-purchase graph; first-discovery = min hop by construction.
ORACLES["q_bfs_hops"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
und AS (
  SELECT a AS src, b AS dst FROM raw
  UNION ALL SELECT b AS src, a AS dst FROM raw),
v0 AS (
  SELECT p_partkey AS id, CAST(0 AS INTEGER) AS hop
  FROM part WHERE p_partkey % 97 = 0),
n1 AS (
  SELECT DISTINCT u.dst AS id, CAST(1 AS INTEGER) AS hop
  FROM und u JOIN v0 ON v0.id = u.src
  WHERE u.dst NOT IN (SELECT id FROM v0)),
v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM n1),
n2 AS (
  SELECT DISTINCT u.dst AS id, CAST(2 AS INTEGER) AS hop
  FROM und u JOIN n1 ON n1.id = u.src
  WHERE u.dst NOT IN (SELECT id FROM v1)),
v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM n2),
n3 AS (
  SELECT DISTINCT u.dst AS id, CAST(3 AS INTEGER) AS hop
  FROM und u JOIN n2 ON n2.id = u.src
  WHERE u.dst NOT IN (SELECT id FROM v2))
SELECT * FROM v2 UNION ALL SELECT * FROM n3
ORDER BY id
"""

# q_link_pred: center wedge self-join, NOT EXISTS against the edge
# set, exact common counts + degree Jaccard.
ORACLES["q_link_pred"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
adj AS (
  SELECT a AS c, b AS n FROM raw
  UNION ALL SELECT b AS c, a AS n FROM raw),
deg AS (SELECT c AS id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
cn AS (
  SELECT x.n AS u, y.n AS w, CAST(count(*) AS BIGINT) AS common
  FROM adj x JOIN adj y ON x.c = y.c AND x.n < y.n
  GROUP BY 1, 2),
cand AS (
  SELECT * FROM cn
  WHERE common >= 2
    AND NOT EXISTS (SELECT 1 FROM raw WHERE raw.a = cn.u AND raw.b = cn.w))
SELECT cand.u, cand.w, cand.common,
       du.deg AS deg_u, dw.deg AS deg_w,
       CAST(cand.common AS DOUBLE)
         / CAST(du.deg + dw.deg - cand.common AS DOUBLE) AS jaccard
FROM cand
JOIN deg du ON du.id = cand.u
JOIN deg dw ON dw.id = cand.w
ORDER BY cand.u, cand.w
"""

# q_assortativity: exact HUGEINT moments over both edge orientations;
# the symmetry (Σx = Σy, Σx² = Σy²) removes the sqrt from Pearson r.
ORACLES["q_assortativity"] = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
adj AS (
  SELECT a AS c, b AS n FROM raw
  UNION ALL SELECT b AS c, a AS n FROM raw),
deg AS (SELECT c AS id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
ends AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM raw JOIN deg da ON da.id = raw.a JOIN deg db ON db.id = raw.b
  UNION ALL
  SELECT db.deg, da.deg
  FROM raw JOIN deg da ON da.id = raw.a JOIN deg db ON db.id = raw.b),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
         sum(CAST(dx AS HUGEINT)) AS s_x,
         sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS s_xy,
         sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS s_xx
  FROM ends)
SELECT CAST(n_endpoints / 2 AS BIGINT) AS m_edges, n_endpoints,
       CAST(CAST(s_x AS VARCHAR) AS DOUBLE) AS s_x,
       CAST(CAST(s_xy AS VARCHAR) AS DOUBLE) AS s_xy,
       CAST(CAST(s_xx AS VARCHAR) AS DOUBLE) AS s_xx,
       CAST(CAST(CAST(n_endpoints AS HUGEINT) * s_xy - s_x * s_x AS VARCHAR)
            AS DOUBLE)
         / CAST(CAST(CAST(n_endpoints AS HUGEINT) * s_xx - s_x * s_x
                     AS VARCHAR) AS DOUBLE) AS r
FROM m
"""

# q_systematic_sample: cumulative-weight walk replayed with a plain
# window (strictly-prior sum), same integer boundary-crossing test.
ORACLES["q_systematic_sample"] = """
WITH pri AS (
  SELECT doc_id, n_chars,
         coalesce(sum(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
  FROM documents)
SELECT doc_id, n_chars, CAST(p AS BIGINT) AS prior_weight
FROM pri
WHERE p // 20000 < (p + n_chars) // 20000
ORDER BY doc_id
"""

# q_lexical_diversity: the shingle-family normalization replayed, then
# per-source type/token/hapax counting.
ORACLES["q_lexical_diversity"] = f"""
WITH w AS (
  SELECT source, unnest(str_split({_NORM}, ' ')) AS tok FROM documents),
tf AS (
  SELECT source, tok, count(*) AS c FROM w WHERE tok <> '' GROUP BY 1, 2),
per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM tf GROUP BY 1)
SELECT source, n_types, n_tokens, n_hapax,
       CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac
FROM per
ORDER BY source
"""

# q_poisson_bootstrap: the md5 key contract replayed per (row, resample),
# the SAME hard-coded Poisson(1) CDF literals, exact HUGEINT sums.
ORACLES["q_poisson_bootstrap"] = """
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

# q_gini_split: inclusive cumulative class counts on the value axis,
# exact HUGEINT Gini numerators (VARCHAR-routed), argmin by
# (cost, threshold) — the struct-min replay.
ORACLES["q_gini_split"] = """
WITH g AS (
  SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE n_chars IS NOT NULL),
vals AS (
  SELECT x, CAST(sum(y) AS BIGINT) AS p, CAST(sum(1 - y) AS BIGINT) AS q
  FROM g GROUP BY 1),
pri AS (
  SELECT x,
         coalesce(sum(p) OVER win, 0) + p AS pl,
         coalesce(sum(p + q) OVER win, 0) + p + q AS nl
  FROM vals
  WINDOW win AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(y) AS BIGINT) AS pos_total
  FROM g),
scored AS (
  SELECT x AS threshold,
         (CAST(CAST(CAST(nl AS HUGEINT) * CAST(nl AS HUGEINT)
                    - CAST(pl AS HUGEINT) * CAST(pl AS HUGEINT)
                    - CAST(nl - pl AS HUGEINT) * CAST(nl - pl AS HUGEINT)
                    AS VARCHAR) AS DOUBLE) / CAST(nl AS DOUBLE)
          + CAST(CAST(CAST(n_total - nl AS HUGEINT)
                        * CAST(n_total - nl AS HUGEINT)
                      - CAST(pos_total - pl AS HUGEINT)
                        * CAST(pos_total - pl AS HUGEINT)
                      - CAST((n_total - nl) - (pos_total - pl) AS HUGEINT)
                        * CAST((n_total - nl) - (pos_total - pl) AS HUGEINT)
                      AS VARCHAR) AS DOUBLE)
            / CAST(n_total - nl AS DOUBLE))
           / CAST(n_total AS DOUBLE) AS gini_split,
         CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
         CAST(n_total - nl AS BIGINT) AS n_right,
         CAST(pos_total - pl AS BIGINT) AS pos_right,
         n_total, pos_total
  FROM pri CROSS JOIN tot
  WHERE n_total - nl > 0)
SELECT threshold, gini_split, n_left, pos_left, n_right, pos_right,
       n_total, pos_total
FROM scored ORDER BY gini_split, threshold LIMIT 1
"""

# q_changepoint: cumulative (S, Q) prefix replay on the day axis, exact
# HUGEINT SSE numerators (VARCHAR-routed), argmin by (cost, day).
ORACLES["q_changepoint"] = """
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

# --- Family faces (npm_mirror_spark/faces/) --------------------------------
# One merge after the ORACLES literal (a nested family oracle reads it):
# the registered entries join QUERIES / ORACLES, the staged ones are kept
# for registry.all_faces(); a name defined twice raises.
STAGED = faces.merge(QUERIES, ORACLES, faces.table())

# Explicit raises, not assert: these import-time invariants guard the
# dict reorder below and must survive ``python -O`` (which strips
# asserts while the reorder still runs).
if len(DRIVER_WINDOW) != 50:
    raise RuntimeError(f"DRIVER_WINDOW has {len(DRIVER_WINDOW)} slots, need 50")
if len(set(DRIVER_WINDOW)) != 50:
    raise RuntimeError("duplicate names in DRIVER_WINDOW")
_unregistered = [n for n in DRIVER_WINDOW if n not in QUERIES]
if _unregistered:
    raise RuntimeError(f"DRIVER_WINDOW not in registry: {_unregistered}")
QUERIES = {n: QUERIES[n] for n in DRIVER_WINDOW} | {
    n: f for n, f in QUERIES.items() if n not in set(DRIVER_WINDOW)
}
