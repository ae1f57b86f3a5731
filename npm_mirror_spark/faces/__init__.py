"""Query faces grouped by operator family, each next to its DuckDB oracle.

Each family module holds the faces built on one group of ``operators/``
modules, each face next to its oracle:

- ``relational``: the DataFrame API and the ``projections``, ``filters``
  and ``joins`` operators;
- ``aggregates``: ``aggregates``, ``sketches``, ``bloom``, ``skew`` and
  ``skyline``;
- ``similarity``: ``dedup``, ``similarity``, ``retrieval`` and ``linkage``;
- ``corpus``: ``text``, ``tokenizer``, ``curation``, ``layout`` and
  ``classifier``;
- ``stats``, ``checks``, ``temporal`` and ``graph``: the operators module
  of the same name.

A face is registered one way only, by its :class:`Face` row in
:func:`table`, the one listing of every face:

- ``oracle`` is DuckDB SQL text, ``None`` for a rows-only face, or, when
  the oracle nests another face's oracle, a function of the registered
  ``ORACLES`` dict that returns the SQL.  :func:`merge` calls it once
  every SQL-text oracle and every function oracle above it is in.
- ``staged`` rows stay out of ``queries.QUERIES`` / ``ORACLES``; only
  ``registry.all_faces()`` (and so the sweeps and the registry-wide
  tests) reaches them.  Registering one means dropping its
  ``staged=True`` and adding it to ``queries.WINDOW_TAIL``
  (docs/DRIVER_WINDOW.md).

The rows' order is the registration sequence: registered faces enter
``QUERIES`` in this order, staged ones follow every registered face in
``all_faces()`` in this order.  The helpers defined here are the ones
more than one family module uses.

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
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.tables import load_table


#: The shared text normalization every corpus oracle replays.
NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, event_type, n) — the complete-block fixture the blocked
    designs (Friedman, Cochran Q) and the per-type day series (DW)
    share."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))


DAILY_SQL = """
daily AS (
  SELECT date_trunc('day', ts) AS d, event_type AS t, count(*) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
)
"""


def dec_sum(col: str, alias: str) -> F.Column:
    """Order-independent double sum: exact DECIMAL accumulation, double out."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double").alias(alias)


def nodec(df: DataFrame) -> DataFrame:
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


def line_recency():
    return [F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")]


def docs_with_dups(spark, sf_dir):
    """documents + injected exact dups (id%7, +100000) and near-dups
    (id%11, +200000, one word appended) — deterministic fuzz corpus."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    near = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzextra")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


def banded_pairs(a, b, id_a="id_a", id_b="id_b", width=20, extra_keys=()):
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


def ivf_centroids(e):
    """Deterministic centroid pick shared by the IVF queries (vec_id%50==0
    — reproducible in the DuckDB oracle, unlike a trained k-means)."""
    return e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )


SHINGLES = f"""
norm AS (SELECT doc_id, {NORM} AS t FROM {{src}}),
w AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM norm),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 3
    THEN list_transform(generate_series(1, len(w)-2),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE [t] END AS shingles
  FROM w)
"""


def shingles_sql(src: str, n: int) -> str:
    """norm/w/sh CTEs for arbitrary word n-gram size (the trigram
    SHINGLES above predates this and is kept verbatim — its oracles'
    values must not move)."""
    return f"""
norm AS (SELECT doc_id, {NORM} AS t FROM {src}),
w AS (SELECT doc_id, str_split(t, ' ') AS w, t FROM norm),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= {n}
    THEN list_transform(generate_series(1, len(w)-{n - 1}),
         i -> array_to_string(list_slice(w, i, i+{n - 1}), ' '))
    ELSE [t] END AS shingles
  FROM w)"""


DOCS_WITH_DUPS = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + 200000, text || ' zzzextra' FROM documents WHERE doc_id % 11 = 0
)
"""


# MinHash/LSH candidate edges over the dup-injected corpus — shared by the
# q_minhash_pairs and q_dedup_keepset oracles; mirrors
# operators/dedup.py:minhash_candidate_pairs exactly.
MINHASH_EDGES = f"""
{DOCS_WITH_DUPS},
{SHINGLES.format(src="docs2")},
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


class Face(NamedTuple):
    name: str
    face: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[dict[str, str]], str] | None
    staged: bool = False


def table() -> list[Face]:
    """Every face, once, in registration order: the one listing of the
    faces with their oracles and ``staged`` flags."""
    # imported here: the family modules import Face and the helpers above
    from npm_mirror_spark.faces import (
        aggregates as agg,
        checks as chk,
        corpus as cor,
        graph as gra,
        relational as rel,
        similarity as sim,
        stats as sta,
        temporal as tem,
    )

    return [
        Face("q_scan_project", rel.q_scan_project, rel._SCAN_PROJECT_SQL),
        Face("q_json_decode", rel.q_json_decode, rel._JSON_DECODE_SQL),
        Face("q_regex_clean", rel.q_regex_clean, rel._REGEX_CLEAN_SQL),
        Face("q_split_last", rel.q_split_last, rel._SPLIT_LAST_SQL),
        Face("q_prefix_bucket", rel.q_prefix_bucket, rel._PREFIX_BUCKET_SQL),
        Face("q_ts_parse", rel.q_ts_parse, rel._TS_PARSE_SQL),
        Face("q_normalize", rel.q_normalize, rel._NORMALIZE_SQL),
        Face("q_flag_route", agg.q_flag_route, agg._FLAG_ROUTE_SQL),
        Face("q_filter_notnull", rel.q_filter_notnull, rel._FILTER_NOTNULL_SQL),
        Face("q_filter_size", rel.q_filter_size, rel._FILTER_SIZE_SQL),
        Face("q_argmax_latest", agg.q_argmax_latest, agg._ARGMAX_LATEST_SQL),
        Face("q_mirror_record", agg.q_mirror_record, agg._MIRROR_RECORD_SQL),
        Face("q_retention_topn", agg.q_retention_topn, agg._RETENTION_TOPN_SQL),
        Face("q_retention_gc", rel.q_retention_gc, rel._RETENTION_GC_SQL),
        Face("q_retention_tombstone", agg.q_retention_tombstone, agg._RETENTION_TOMBSTONE_SQL),
        Face("q_count_events", agg.q_count_events, agg._COUNT_EVENTS_SQL),
        Face("q_max_seq", agg.q_max_seq, agg._MAX_SEQ_SQL),
        Face("q_lag", agg.q_lag, agg._LAG_SQL),
        Face("q_union_logs", agg.q_union_logs, agg._UNION_LOGS_SQL),
        Face("q_anti_join", rel.q_anti_join, rel._ANTI_JOIN_SQL),
        Face("q_enrich_join", rel.q_enrich_join, rel._ENRICH_JOIN_SQL),
        Face("q_dedup_exact", sim.q_dedup_exact, sim._DEDUP_EXACT_SQL),
        Face("q_dedup_norm", sim.q_dedup_norm, sim._DEDUP_NORM_SQL),
        Face("q_minhash_pairs", sim.q_minhash_pairs, sim._MINHASH_PAIRS_SQL),
        Face("q_cosine_topk", sim.q_cosine_topk, sim._COSINE_TOPK_SQL),
        Face("q_text_stats", cor.q_text_stats, cor._TEXT_STATS_SQL),
        Face("q_approx_stats", rel.q_approx_stats, None),
        Face("q_cut_contaminated", cor.q_cut_contaminated, cor._CUT_CONTAMINATED_SQL),
        Face("q_line_filter", cor.q_line_filter, cor._LINE_FILTER_SQL),
        Face("q_containment", sim.q_containment, sim._CONTAINMENT_SQL),
        Face("q_lang_margin", cor.q_lang_margin, cor._LANG_MARGIN_SQL),
        Face("q_binned_quantiles", agg.q_binned_quantiles, agg._BINNED_QUANTILES_SQL),
        Face("q_pagerank_directed", gra.q_pagerank_directed, gra._PAGERANK_DIRECTED_SQL),
        Face("q_release_cut", cor.q_release_cut, cor._release_cut_oracle),
        Face("q_zorder", cor.q_zorder, cor._ZORDER_SQL),
        Face("q_quality_checks", chk.q_quality_checks, chk._QUALITY_CHECKS_SQL),
        Face("q_skew_report", agg.q_skew_report, agg._SKEW_REPORT_SQL),
        Face("q_join_size_est", agg.q_join_size_est, agg._JOIN_SIZE_EST_SQL),
        Face("q_temperature_sample", cor.q_temperature_sample, cor._TEMPERATURE_SAMPLE_SQL),
        Face("q_hll_setops", agg.q_hll_setops, agg._HLL_SETOPS_SQL),
        Face("q_triangles", gra.q_triangles, gra._TRIANGLES_SQL),
        Face("q_hll_by_group", agg.q_hll_by_group, agg._HLL_BY_GROUP_SQL),
        Face("q_record_linkage", sim.q_record_linkage, sim._RECORD_LINKAGE_SQL),
        Face("q_jaccard_exact", sim.q_jaccard_exact, sim._JACCARD_EXACT_SQL),
        Face("q_quantiles_by_group", agg.q_quantiles_by_group, agg._QUANTILES_BY_GROUP_SQL),
        Face("q_drift_report", chk.q_drift_report, chk._DRIFT_REPORT_SQL),
        Face("q_kcore", gra.q_kcore, gra._KCORE_SQL),
        Face("q_trend_by_group", agg.q_trend_by_group, agg._TREND_BY_GROUP_SQL),
        Face("q_quantile_bins", agg.q_quantile_bins, agg._QUANTILE_BINS_SQL),
        Face("q_calibration", cor.q_calibration, cor._CALIBRATION_SQL),
        Face("q_temperature_mix", cor.q_temperature_mix, cor._TEMPERATURE_MIX_SQL),
        Face("q_dup_ngram_fraction", sim.q_dup_ngram_fraction, sim._DUP_NGRAM_FRACTION_SQL),
        Face("q_dup_spans", sim.q_dup_spans, sim._DUP_SPANS_SQL),
        Face("q_cut_dup_spans", sim.q_cut_dup_spans, sim._CUT_DUP_SPANS_SQL),
        Face("q_bloom_new_customers", agg.q_bloom_new_customers, agg._BLOOM_NEW_CUSTOMERS_SQL),
        Face("q_lm_nll", cor.q_lm_nll, None),
        Face("q_hybrid_search", sim.q_hybrid_search, sim._HYBRID_SEARCH_SQL),
        Face("q_quality_classifier", cor.q_quality_classifier, None),
        Face("q_bpe_encode", cor.q_bpe_encode, None),
        Face("q_lm_bigram", cor.q_lm_bigram, None),
        Face("q_url_filter", cor.q_url_filter, cor._URL_FILTER_SQL),
        Face("q_embed_text", cor.q_embed_text, cor._EMBED_TEXT_SQL),
        Face("q_vocab_growth", cor.q_vocab_growth, cor._VOCAB_GROWTH_SQL),
        Face("q_corpus_report", cor.q_corpus_report, cor._corpus_report_oracle),
        Face("q_classifier_eval", cor.q_classifier_eval, cor._CLASSIFIER_EVAL_SQL),
        Face("q_pr_curve", cor.q_pr_curve, cor._PR_CURVE_SQL),
        Face(
            "q_contamination_report", cor.q_contamination_report, cor._CONTAMINATION_REPORT_SQL,
        ),
        Face("q_epoch_shuffle", cor.q_epoch_shuffle, cor._EPOCH_SHUFFLE_SQL),
        Face("q_count_min", agg.q_count_min, agg._COUNT_MIN_SQL),
        Face("q_hll_replay", agg.q_hll_replay, agg._HLL_REPLAY_SQL),
        Face("q_url_canon", cor.q_url_canon, cor._URL_CANON_SQL),
        Face("q_split_assign", cor.q_split_assign, cor._SPLIT_ASSIGN_SQL),
        Face("q_token_budget", cor.q_token_budget, cor._TOKEN_BUDGET_SQL),
        Face("q_corpus_diff", rel.q_corpus_diff, rel._CORPUS_DIFF_SQL),
        Face(
            "q_quality_percentile_filter",
            cor.q_quality_percentile_filter,
            cor._QUALITY_PERCENTILE_FILTER_SQL,
        ),
        Face("q_rolling_hour", rel.q_rolling_hour, rel._ROLLING_HOUR_SQL),
        Face("q_profile", rel.q_profile, rel._PROFILE_SQL),
        Face(
            "q_large_order_customers",
            rel.q_large_order_customers,
            rel._LARGE_ORDER_CUSTOMERS_SQL,
        ),
        Face("q_shipping_priority", rel.q_shipping_priority, rel._SHIPPING_PRIORITY_SQL),
        Face(
            "q_local_supplier_volume",
            rel.q_local_supplier_volume,
            rel._LOCAL_SUPPLIER_VOLUME_SQL,
        ),
        Face("q_window_funcs", rel.q_window_funcs, rel._WINDOW_FUNCS_SQL),
        Face("q_session_stats", rel.q_session_stats, rel._SESSION_STATS_SQL),
        Face("q_asof_plain", tem.q_asof_plain, tem._ASOF_PLAIN_SQL),
        Face("q_cap_per_source", cor.q_cap_per_source, cor._CAP_PER_SOURCE_SQL),
        Face("q_source_overlap", cor.q_source_overlap, cor._SOURCE_OVERLAP_SQL),
        Face("q_event_transitions", rel.q_event_transitions, rel._EVENT_TRANSITIONS_SQL),
        Face("q_variant_decode", rel.q_variant_decode, rel._VARIANT_DECODE_SQL),
        Face("q_cluster_split", sim.q_cluster_split, sim._CLUSTER_SPLIT_SQL),
        Face("q_kmeans", sim.q_kmeans, sim._KMEANS_SQL),
        Face("q_pagerank", gra.q_pagerank, gra._PAGERANK_SQL),
        Face("q_ann_ivf_trained", sim.q_ann_ivf_trained, sim._ANN_IVF_TRAINED_SQL),
        Face("q_srp_pairs", sim.q_srp_pairs, sim._SRP_PAIRS_SQL),
        Face("q_bm25", sim.q_bm25, sim._BM25_SQL),
        Face("q_ann_pq", sim.q_ann_pq, lambda o: o["q_cosine_topk"]),
        Face("q_ann_sq8", sim.q_ann_sq8, lambda o: o["q_cosine_topk"]),
        Face("q_minhash_recall", sim.q_minhash_recall, sim._MINHASH_RECALL_SQL),
        Face("q_new_users_daily", rel.q_new_users_daily, rel._NEW_USERS_DAILY_SQL),
        Face("q_group_percentiles", rel.q_group_percentiles, rel._GROUP_PERCENTILES_SQL),
        Face("q_event_cooccurrence", rel.q_event_cooccurrence, rel._EVENT_COOCCURRENCE_SQL),
        Face("q_extract_mentions", rel.q_extract_mentions, rel._EXTRACT_MENTIONS_SQL),
        Face("q_corr_moments", rel.q_corr_moments, rel._CORR_MOMENTS_SQL),
        Face("q_sliding_window", rel.q_sliding_window, rel._SLIDING_WINDOW_SQL),
        Face("q_last_touch", rel.q_last_touch, rel._LAST_TOUCH_SQL),
        Face("q_doc_rarity", cor.q_doc_rarity, cor._DOC_RARITY_SQL),
        Face("q_nation_profit", rel.q_nation_profit, rel._NATION_PROFIT_SQL),
        Face("q_revenue_share", rel.q_revenue_share, rel._REVENUE_SHARE_SQL),
        Face("q_order_size_dist", rel.q_order_size_dist, rel._ORDER_SIZE_DIST_SQL),
        Face(
            "q_top_supplier_revenue", rel.q_top_supplier_revenue, rel._TOP_SUPPLIER_REVENUE_SQL,
        ),
        Face("q_overstock_suppliers", rel.q_overstock_suppliers, rel._OVERSTOCK_SUPPLIERS_SQL),
        Face("q_customer_order_dist", rel.q_customer_order_dist, rel._CUSTOMER_ORDER_DIST_SQL),
        Face("q_valuable_parts", rel.q_valuable_parts, rel._VALUABLE_PARTS_SQL),
        Face("q_waiting_orders", rel.q_waiting_orders, rel._WAITING_ORDERS_SQL),
        Face("q_order_gap_stats", rel.q_order_gap_stats, rel._ORDER_GAP_STATS_SQL),
        Face("q_dup_rate_by_source", sim.q_dup_rate_by_source, sim._DUP_RATE_BY_SOURCE_SQL),
        Face("q_pack_blocks", cor.q_pack_blocks, cor._PACK_BLOCKS_SQL),
        Face("q_length_histogram", cor.q_length_histogram, cor._LENGTH_HISTOGRAM_SQL),
        Face("q_chunk_tokens", cor.q_chunk_tokens, cor._CHUNK_TOKENS_SQL),
        Face("q_dup_cluster_sizes", sim.q_dup_cluster_sizes, sim._DUP_CLUSTER_SIZES_SQL),
        Face("q_compress_ratio", cor.q_compress_ratio, None),
        Face("q_user_event_history", rel.q_user_event_history, rel._USER_EVENT_HISTORY_SQL),
        Face("q_sessionize", rel.q_sessionize, rel._SESSIONIZE_SQL),
        Face("q_range_join", tem.q_range_join, tem._RANGE_JOIN_SQL),
        Face("q_gopher_rules", cor.q_gopher_rules, cor._GOPHER_RULES_SQL),
        Face("q_decontaminate", cor.q_decontaminate, cor._DECONTAMINATE_SQL),
        Face("q_redact_pii", cor.q_redact_pii, cor._REDACT_PII_SQL),
        Face("q_pack_sequences", cor.q_pack_sequences, cor._PACK_SEQUENCES_SQL),
        Face("q_gap_fill", rel.q_gap_fill, rel._GAP_FILL_SQL),
        Face("q_cohort_retention", rel.q_cohort_retention, rel._COHORT_RETENTION_SQL),
        Face("q_forecast_revenue", rel.q_forecast_revenue, rel._FORECAST_REVENUE_SQL),
        Face("q_rrf_fusion", sim.q_rrf_fusion, sim._RRF_FUSION_SQL),
        Face("q_best_supplier", rel.q_best_supplier, rel._BEST_SUPPLIER_SQL),
        Face("q_dedup_keepbest", sim.q_dedup_keepbest, sim._DEDUP_KEEPBEST_SQL),
        Face("q_edit_distance", rel.q_edit_distance, rel._EDIT_DISTANCE_SQL),
        Face("q_blob_stats", rel.q_blob_stats, rel._BLOB_STATS_SQL),
        Face("q_heavy_hitters", cor.q_heavy_hitters, cor._HEAVY_HITTERS_SQL),
        Face("q_stratified_sample", cor.q_stratified_sample, cor._STRATIFIED_SAMPLE_SQL),
        Face("q_funnel", agg.q_funnel, agg._FUNNEL_SQL),
        Face("q_hash_sample", rel.q_hash_sample, rel._HASH_SAMPLE_SQL),
        Face("q_zscore_outliers", rel.q_zscore_outliers, rel._ZSCORE_OUTLIERS_SQL),
        Face("q_mad", rel.q_mad, rel._MAD_SQL),
        Face("q_weekly_growth", rel.q_weekly_growth, rel._WEEKLY_GROWTH_SQL),
        Face("q_exact_percentiles", rel.q_exact_percentiles, rel._EXACT_PERCENTILES_SQL),
        Face("q_dedup_keepset", sim.q_dedup_keepset, sim._DEDUP_KEEPSET_SQL),
        Face("q_ngram_jaccard", sim.q_ngram_jaccard, sim._NGRAM_JACCARD_SQL),
        Face("q_simhash_pairs", sim.q_simhash_pairs, sim._SIMHASH_PAIRS_SQL),
        Face("q_cosine_topk_arrow", sim.q_cosine_topk_arrow, None),
        Face("q_cosine_dup_pairs", sim.q_cosine_dup_pairs, sim._COSINE_DUP_PAIRS_SQL),
        Face("q_ann_ivf", sim.q_ann_ivf, sim._ANN_IVF_SQL),
        Face("q_ivf_dup_pairs", sim.q_ivf_dup_pairs, sim._IVF_DUP_PAIRS_SQL),
        Face("q_semdedup", sim.q_semdedup, sim._SEMDEDUP_SQL),
        Face("q_ann_recall", sim.q_ann_recall, sim._ann_recall_oracle),
        Face("q_top_events_page", rel.q_top_events_page, rel._TOP_EVENTS_PAGE_SQL),
        Face("q_mode_per_user", rel.q_mode_per_user, rel._MODE_PER_USER_SQL),
        Face(
            "q_order_priority_check", rel.q_order_priority_check, rel._ORDER_PRIORITY_CHECK_SQL,
        ),
        Face(
            "q_small_quantity_revenue",
            rel.q_small_quantity_revenue,
            rel._SMALL_QUANTITY_REVENUE_SQL,
        ),
        Face(
            "q_returned_item_revenue",
            rel.q_returned_item_revenue,
            rel._RETURNED_ITEM_REVENUE_SQL,
        ),
        Face("q_nation_volume", rel.q_nation_volume, rel._NATION_VOLUME_SQL),
        Face("q_market_share", rel.q_market_share, rel._MARKET_SHARE_SQL),
        Face("q_priority_lines", rel.q_priority_lines, rel._PRIORITY_LINES_SQL),
        Face("q_promo_revenue", rel.q_promo_revenue, rel._PROMO_REVENUE_SQL),
        Face("q_supplier_part_count", rel.q_supplier_part_count, rel._SUPPLIER_PART_COUNT_SQL),
        Face("q_disjunctive_revenue", rel.q_disjunctive_revenue, rel._DISJUNCTIVE_REVENUE_SQL),
        Face("q_idle_rich_customers", rel.q_idle_rich_customers, rel._IDLE_RICH_CUSTOMERS_SQL),
        Face("q_cube_counts", rel.q_cube_counts, rel._CUBE_COUNTS_SQL),
        Face("q_rank_family", rel.q_rank_family, rel._RANK_FAMILY_SQL),
        Face("q_set_ops", rel.q_set_ops, rel._SET_OPS_SQL),
        Face("q_quality_score", cor.q_quality_score, cor._QUALITY_SCORE_SQL),
        Face("q_lang_id", cor.q_lang_id, cor._LANG_ID_SQL),
        Face("q_token_count", cor.q_token_count, cor._TOKEN_COUNT_SQL),
        Face("q_fingerprint", cor.q_fingerprint, cor._FINGERPRINT_SQL),
        Face("q_window_counts", rel.q_window_counts, rel._WINDOW_COUNTS_SQL),
        Face("q_tpch_pricing", rel.q_tpch_pricing, rel._TPCH_PRICING_SQL),
        Face("q_revenue_by_customer", rel.q_revenue_by_customer, rel._REVENUE_BY_CUSTOMER_SQL),
        Face("q_centroids", rel.q_centroids, rel._CENTROIDS_SQL),
        Face("q_salted_counts", agg.q_salted_counts, agg._SALTED_COUNTS_SQL),
        Face("q_region_rollup", rel.q_region_rollup, rel._REGION_ROLLUP_SQL),
        Face("q_quality_filter", cor.q_quality_filter, cor._QUALITY_FILTER_SQL),
        Face("q_tf_df", cor.q_tf_df, cor._TF_DF_SQL),
        Face("q_semi_join", rel.q_semi_join, rel._SEMI_JOIN_SQL),
        Face("q_grouping_rollup", rel.q_grouping_rollup, rel._GROUPING_ROLLUP_SQL),
        Face("q_running_total", rel.q_running_total, rel._RUNNING_TOTAL_SQL),
        Face("q_pivot_counts", rel.q_pivot_counts, rel._PIVOT_COUNTS_SQL),
        Face("q_asof_join", tem.q_asof_join, tem._ASOF_JOIN_SQL),
        Face("q_unpivot", rel.q_unpivot, rel._UNPIVOT_SQL),
        Face("q_pagerank_seeded", gra.q_pagerank_seeded, gra._PAGERANK_SEEDED_SQL),
        Face("q_assoc_rules", gra.q_assoc_rules, gra._ASSOC_RULES_SQL),
        Face("q_drift_weekly", rel.q_drift_weekly, rel._DRIFT_WEEKLY_SQL),
        Face("q_seasonal_outliers", rel.q_seasonal_outliers, rel._SEASONAL_OUTLIERS_SQL),
        Face("q_weighted_median", agg.q_weighted_median, agg._WEIGHTED_MEDIAN_SQL),
        Face("q_source_gini", rel.q_source_gini, rel._SOURCE_GINI_SQL),
        Face("q_triangle_est", gra.q_triangle_est, gra._TRIANGLE_EST_SQL),
        Face("q_validated_batch", chk.q_validated_batch, chk._VALIDATED_BATCH_SQL),
        Face("q_communities", gra.q_communities, gra._COMMUNITIES_SQL),
        Face("q_token_drift", cor.q_token_drift, cor._TOKEN_DRIFT_SQL),
        Face("q_edit_join", sim.q_edit_join, sim._EDIT_JOIN_SQL),
        Face("q_decay_counts", rel.q_decay_counts, rel._DECAY_COUNTS_SQL),
        Face("q_luhn_scan", cor.q_luhn_scan, cor._LUHN_SCAN_SQL),
        Face("q_hll_weekly", agg.q_hll_weekly, agg._HLL_WEEKLY_SQL),
        Face("q_dedup_lines", cor.q_dedup_lines, cor._DEDUP_LINES_SQL),
        Face("q_quantile_norm", cor.q_quantile_norm, cor._QUANTILE_NORM_SQL),
        Face("q_fk_audit", rel.q_fk_audit, rel._FK_AUDIT_SQL),
        Face("q_winsorized_mean", cor.q_winsorized_mean, cor._WINSORIZED_MEAN_SQL),
        Face("q_kmv_distinct", agg.q_kmv_distinct, agg._KMV_DISTINCT_SQL),
        Face("q_benford", rel.q_benford, rel._BENFORD_SQL),
        Face("q_rank_sum", sta.q_rank_sum, sta._RANK_SUM_SQL),
        Face("q_ks_stat", sta.q_ks_stat, sta._KS_STAT_SQL),
        Face("q_cusum", tem.q_cusum, tem._CUSUM_SQL),
        Face("q_autocorr", tem.q_autocorr, tem._AUTOCORR_SQL),
        Face("q_interval_coverage", tem.q_interval_coverage, tem._INTERVAL_COVERAGE_SQL),
        Face("q_collocations", cor.q_collocations, cor._COLLOCATIONS_SQL),
        Face("q_hhi", rel.q_hhi, rel._HHI_SQL),
        Face("q_simpson", rel.q_simpson, rel._SIMPSON_SQL),
        Face("q_fd_violations", rel.q_fd_violations, rel._FD_VIOLATIONS_SQL),
        Face("q_skyline", agg.q_skyline, agg._SKYLINE_SQL),
        Face("q_spearman", sta.q_spearman, sta._SPEARMAN_SQL),
        Face("q_runs_test", sta.q_runs_test, sta._RUNS_TEST_SQL),
        Face("q_mann_kendall", sta.q_mann_kendall, sta._MANN_KENDALL_SQL),
        Face("q_kanonymity", chk.q_kanonymity, chk._KANONYMITY_SQL),
        Face("q_chisq", chk.q_chisq, chk._CHISQ_SQL),
        Face("q_edit2_join", sim.q_edit2_join, sim._EDIT2_JOIN_SQL),
        Face("q_theilsen", sta.q_theilsen, sta._THEILSEN_SQL),
        Face("q_kappa", chk.q_kappa, chk._KAPPA_SQL),
        Face("q_cochran_armitage", chk.q_cochran_armitage, chk._COCHRAN_ARMITAGE_SQL),
        Face("q_mad_outliers", sta.q_mad_outliers, sta._MAD_OUTLIERS_SQL),
        Face("q_leakage_split", sim.q_leakage_split, sim._LEAKAGE_SPLIT_SQL),
        Face("q_hh_twopass", agg.q_hh_twopass, agg._HH_TWOPASS_SQL),
        Face("q_mcnemar", chk.q_mcnemar, chk._MCNEMAR_SQL),
        Face("q_welch_t", sta.q_welch_t, sta._WELCH_T_SQL),
        Face("q_kruskal", sta.q_kruskal, sta._KRUSKAL_SQL),
        Face("q_kendall_tau", sta.q_kendall_tau, sta._KENDALL_TAU_SQL),
        Face("q_anova_cells", sta.q_anova_cells, sta._ANOVA_CELLS_SQL),
        Face("q_hits", gra.q_hits, gra._HITS_SQL),
        Face("q_bfs_hops", gra.q_bfs_hops, gra._BFS_HOPS_SQL),
        Face("q_link_pred", gra.q_link_pred, gra._LINK_PRED_SQL),
        Face("q_assortativity", gra.q_assortativity, gra._ASSORTATIVITY_SQL),
        Face("q_systematic_sample", cor.q_systematic_sample, cor._SYSTEMATIC_SAMPLE_SQL),
        Face("q_lexical_diversity", cor.q_lexical_diversity, cor._LEXICAL_DIVERSITY_SQL),
        Face("q_poisson_bootstrap", sta.q_poisson_bootstrap, sta._POISSON_BOOTSTRAP_SQL),
        Face("q_gini_split", cor.q_gini_split, cor._GINI_SPLIT_SQL),
        Face("q_changepoint", tem.q_changepoint, tem._CHANGEPOINT_SQL),
        Face("q_friedman", sta.q_friedman, sta._FRIEDMAN_SQL),
        Face("q_brown_forsythe", sta.q_brown_forsythe, sta._BROWN_FORSYTHE_SQL),
        Face("q_jonckheere", sta.q_jonckheere, sta._JONCKHEERE_SQL),
        Face("q_durbin_watson", sta.q_durbin_watson, sta._DURBIN_WATSON_SQL),
        Face("q_gk_gamma", chk.q_gk_gamma, chk._GK_GAMMA_SQL),
        Face("q_cochran_q", chk.q_cochran_q, chk._COCHRAN_Q_SQL),
        Face("q_vocab_coverage", cor.q_vocab_coverage, cor._VOCAB_COVERAGE_SQL),
        Face("q_km_events", tem.q_km_events, tem._KM_EVENTS_SQL),
        Face("q_mood_median", sta.q_mood_median, sta._MOOD_MEDIAN_SQL),
        Face("q_vocab_richness", cor.q_vocab_richness, cor._VOCAB_RICHNESS_SQL),
        Face("q_capture_recapture", chk.q_capture_recapture, chk._capture_recapture_oracle),
        Face("q_hilbert_audit", cor.q_hilbert_audit, cor._hilbert_oracle()),
        Face("q_logrank", tem.q_logrank, tem._LOGRANK_SQL),
        Face("q_mantel_haenszel", chk.q_mantel_haenszel, chk._MH_SQL),
        Face("q_page_trend", sta.q_page_trend, sta._PAGE_SQL),
        Face("q_pettitt", tem.q_pettitt, tem._PETTITT_SQL),
        Face("q_conover_scale", sta.q_conover_scale, sta._CONOVER_SQL),
        Face("q_digit_pref", chk.q_digit_pref, chk._DIGIT_SQL),
        Face("q_mrr", cor.q_mrr, cor._mrr_oracle),
        Face("q_ngram_novelty", cor.q_ngram_novelty, cor._NGRAM_NOVELTY_SQL),
        Face("q_quade", sta.q_quade, sta._QUADE_SQL),
        Face("q_cliff_delta", sta.q_cliff_delta, sta._CLIFF_SQL),
        Face("q_hoeffding", chk.q_hoeffding, chk._HOEFFDING_SQL),
        Face("q_aalen_johansen", tem.q_aalen_johansen, tem._AJ_SQL),
        Face("q_somers_d", chk.q_somers_d, chk._SOMERS_SQL),
        Face("q_tau_c", chk.q_tau_c, chk._TAUC_SQL),
        Face("q_fleiss_kappa", chk.q_fleiss_kappa, chk._FLEISS_SQL),
        Face("q_weighted_kappa", chk.q_weighted_kappa, chk._WKAPPA_SQL),
        Face("q_bowker", chk.q_bowker, chk._BOWKER_SQL),
        Face("q_signed_rank", sta.q_signed_rank, sta._SIGNED_RANK_SQL),
        Face("q_cvm2", sta.q_cvm2, sta._CVM2_SQL),
        Face("q_cox_stuart", tem.q_cox_stuart, tem._COX_STUART_SQL),
        Face("q_seasonal_mk", tem.q_seasonal_mk, tem._SEASONAL_MK_SQL),
        Face("q_buishand", tem.q_buishand, tem._BUISHAND_SQL),
        Face("q_nelson_aalen", tem.q_nelson_aalen, tem._NELSON_AALEN_SQL),
        Face("q_gehan", tem.q_gehan, tem._GEHAN_SQL),
        Face("q_yule_k", cor.q_yule_k, cor._YULE_SQL),
        Face("q_turning_point", tem.q_turning_point, tem._TURNING_SQL, staged=True),
        Face("q_bartels_rvn", tem.q_bartels_rvn, tem._BARTELS_SQL, staged=True),
        Face("q_kendall_w", sta.q_kendall_w, sta._KENDALL_W_SQL, staged=True),
        Face("q_icc", chk.q_icc, chk._icc_oracle(), staged=True),
        Face("q_dixon", sta.q_dixon, sta._DIXON_SQL, staged=True),
        Face("q_grubbs", sta.q_grubbs, sta._GRUBBS_SQL, staged=True),
        Face("q_rank_scale", sta.q_rank_scale, sta._RANK_SCALE_SQL, staged=True),
        Face("q_gk_lambda", chk.q_gk_lambda, chk._GK_LAMBDA_SQL, staged=True),
        Face("q_jarque_bera", sta.q_jarque_bera, sta._JB_SQL, staged=True),
        Face("q_morans_i", tem.q_morans_i, tem._MORANS_SQL, staged=True),
        Face("q_blomqvist_beta", chk.q_blomqvist_beta, chk._BLOMQVIST_SQL, staged=True),
        Face("q_kuiper", sta.q_kuiper, sta._KUIPER_SQL, staged=True),
        Face("q_krippendorff", chk.q_krippendorff, chk._krippendorff_oracle(), staged=True),
        Face("q_hodges_lehmann", sta.q_hodges_lehmann, sta._HL_SQL, staged=True),
        Face("q_cuzick", sta.q_cuzick, sta._CUZICK_SQL, staged=True),
        Face("q_cronbach", chk.q_cronbach, chk._CRONBACH_SQL, staged=True),
        Face("q_gwet_ac1", chk.q_gwet_ac1, chk._gwet_oracle(), staged=True),
        Face("q_tau_partial", chk.q_tau_partial, chk._TAU_PARTIAL_SQL, staged=True),
        Face("q_aligned_ranks", sta.q_aligned_ranks, sta._ALIGNED_SQL, staged=True),
        Face("q_yuen_trim", sta.q_yuen_trim, sta._YUEN_SQL, staged=True),
        Face("q_robust_shape", sta.q_robust_shape, sta._ROBUST_SHAPE_SQL, staged=True),
        Face("q_tukey_fences", sta.q_tukey_fences, sta._TUKEY_SQL, staged=True),
        Face("q_footrule", chk.q_footrule, chk._FOOTRULE_SQL, staged=True),
        Face("q_ndcg", cor.q_ndcg, cor._ndcg_oracle, staged=True),
        Face("q_rbo", cor.q_rbo, cor._rbo_oracle, staged=True),
        Face("q_weekday_anova", sta.q_weekday_anova, sta._WEEKDAY_ANOVA_SQL, staged=True),
        Face("q_dup_token_share", cor.q_dup_token_share, cor._DUP_TOKEN_SHARE_SQL, staged=True),
        Face("q_shift_function", sta.q_shift_function, sta._SHIFT_SQL, staged=True),
        Face(
            "q_rank_stability", sta.q_rank_stability, sta._rank_stability_oracle(), staged=True,
        ),
        Face("q_foster_stuart", sta.q_foster_stuart, sta._FOSTER_STUART_SQL, staged=True),
        Face("q_longest_run", sta.q_longest_run, sta._LONGEST_RUN_SQL, staged=True),
        Face("q_gk_tau", sta.q_gk_tau, sta._GK_TAU_SQL, staged=True),
        Face("q_variance_ratio", sta.q_variance_ratio, sta._VARIANCE_RATIO_SQL, staged=True),
        Face("q_t_closeness", chk.q_t_closeness, chk._T_CLOSENESS_SQL, staged=True),
        Face("q_lin_ccc", chk.q_lin_ccc, chk._LIN_CCC_SQL, staged=True),
        Face("q_hoover_index", chk.q_hoover_index, chk._HOOVER_SQL, staged=True),
        Face("q_rand_index", chk.q_rand_index, chk._rand_index_oracle, staged=True),
        Face("q_dunn_pairs", sta.q_dunn_pairs, sta._dunn_pairs_oracle, staged=True),
        Face("q_durbin_rank", sta.q_durbin_rank, sta._DURBIN_RANK_SQL, staged=True),
        Face("q_mcc", cor.q_mcc, cor._MCC_SQL, staged=True),
        Face("q_transitivity", gra.q_transitivity, gra._transitivity_oracle, staged=True),
        Face("q_reciprocity", gra.q_reciprocity, gra._RECIPROCITY_SQL, staged=True),
        Face("q_modularity", gra.q_modularity, gra._modularity_oracle, staged=True),
        Face("q_conductance", gra.q_conductance, gra._conductance_oracle, staged=True),
        Face(
            "q_attr_assortativity",
            gra.q_attr_assortativity,
            gra._ATTR_ASSORTATIVITY_SQL,
            staged=True,
        ),
        Face("q_lift_gains", cor.q_lift_gains, cor._LIFT_GAINS_SQL, staged=True),
        Face("q_lorenz", chk.q_lorenz, chk._LORENZ_SQL, staged=True),
        Face("q_rich_club", gra.q_rich_club, gra._RICH_CLUB_SQL, staged=True),
        Face("q_ess_audit", chk.q_ess_audit, chk._ESS_AUDIT_SQL, staged=True),
        Face("q_pacf", tem.q_pacf, tem._PACF_SQL, staged=True),
    ]


def merge(
    entries: list[Face],
) -> tuple[dict[str, Callable], dict[str, str], list[tuple[str, Callable, str | None]]]:
    """(QUERIES, ORACLES, STAGED) of ``entries``, in their order: the
    registered faces, their oracle SQL, and the staged faces as (name,
    face, oracle SQL).  Raises ``ValueError`` on a name defined twice."""
    # SQL-text oracles first: an oracle function may nest one registered
    # later in the order (q_release_cut nests q_gopher_rules)
    seen: set[str] = set()
    oracles: dict[str, str] = {}
    for e in entries:
        if e.name in seen:
            raise ValueError(f"face {e.name!r} is defined twice")
        seen.add(e.name)
        if isinstance(e.oracle, str) and not e.staged:
            oracles[e.name] = e.oracle
    queries: dict[str, Callable] = {}
    staged = []
    for e in entries:
        sql = e.oracle(oracles) if callable(e.oracle) else e.oracle
        if e.staged:
            staged.append((e.name, e.face, sql))
        else:
            queries[e.name] = e.face
            if sql is not None:
                oracles[e.name] = sql
    return queries, oracles, staged
