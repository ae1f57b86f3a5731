"""Plan-shape regression tests: scale properties the row-count tests can't
see. A failure here means the query still answers correctly but would fall
over at 100 TB (lost pushdown, lost broadcast, surprise shuffle, codegen
fallback)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from npm_mirror_spark import plans
from npm_mirror_spark.queries import QUERIES

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name](spark, sf_dir)

    return run


def test_projection_prunes_scan(q):
    cols = plans.read_schema_columns(q("q_scan_project"))
    assert cols == [["l_orderkey", "l_linenumber", "l_quantity"]]


def test_filter_pushdown_reaches_scan(q):
    pushed = " ".join(plans.pushed_filters(q("q_filter_size")))
    assert "LessThanOrEqual(l_extendedprice" in pushed


def test_mirror_record_prunes_both_sides(q):
    df = q("q_mirror_record")
    # customer scan: only the 2 projected columns; orders scans: no fat cols
    schemas = plans.read_schema_columns(df)
    assert ["c_custkey", "c_name"] in schemas
    for s in schemas:
        assert "o_orderpriority" not in s, "unused order columns must be pruned"


def test_enrich_join_broadcasts_dimension(q):
    assert plans.has_broadcast_join(q("q_enrich_join"))
    assert plans.shuffle_count(q("q_enrich_join")) <= 1


def test_anti_join_broadcasts_inventory(q):
    assert plans.has_broadcast_join(q("q_anti_join"))


def test_cosine_topk_single_corpus_pass(q):
    df = q("q_cosine_topk")
    # probes broadcast; the only shuffles are the top-k window (+ AQE reads)
    assert plans.shuffle_count(df) <= 2
    assert plans.has_broadcast_join(df)


def test_hot_paths_are_codegen(spark, sf_dir):
    from npm_mirror_spark.plans.inspect import no_aqe

    with no_aqe(spark):
        for name in ("q_filter_size", "q_mirror_record", "q_retention_topn"):
            df = QUERIES[name](spark, sf_dir)
            assert plans.wholestage_codegen_spans(df) > 0, name


def test_asof_join_bounded_fanout(q):
    """The REGISTERED as-of join must be the bucketed form: no per-left-row
    row_number window pruning an O(history) joined fan-out, and the history
    joins must carry the time-bucket equi key alongside the user key."""
    text = plans.explain_str(q("q_asof_join"), "simple")
    assert "row_number" not in text, "composition-form window leaked back in"
    assert "__lb" in text and "__rb" in text, "bucket equi keys missing"


def test_ivf_dup_pairs_intra_cluster_only(q):
    """The scale-path near-dup pairing must co-partition by cluster (equi
    join), never materialize an all-pairs product: the only nested-loop
    joins allowed are the bounded corpus x K-centroid broadcasts."""
    import re

    text = plans.explain_str(q("q_ivf_dup_pairs"), "simple")
    assert re.search(r"hashpartitioning\(cluster#", text), "pairing not cluster-keyed"
    assert "CartesianProduct" not in text


def test_shipping_priority_broadcasts_and_partial_topn(q):
    """Q3 shape: segment-filtered customers broadcast; the top-10 runs as
    TakeOrderedAndProject (per-partition partial top-N), never a global
    sort exchange."""
    text = plans.explain_str(q("q_shipping_priority"), "simple")
    assert "BroadcastHashJoin" in text
    assert "TakeOrderedAndProject" in text


def test_local_supplier_volume_single_fact_shuffle(q):
    """Q5 shape: every dimension broadcasts — the only hash shuffles are
    the fact-side orderkey join and the final n_name rollup."""
    import re

    text = plans.explain_str(q("q_local_supplier_volume"), "simple")
    keys = set(re.findall(r"hashpartitioning\((\w+)#", text))
    assert keys <= {"l_orderkey", "o_orderkey", "n_name"}, keys


def test_mirror_record_single_orders_shuffle_key(q):
    """Both the window and the count agg consume the same o_custkey
    partitioning; the plan must not shuffle orders on any other key."""
    text = plans.explain_str(q("q_mirror_record"), "simple")
    import re

    keys = set(re.findall(r"hashpartitioning\((\w+)#", text))
    assert keys <= {"o_custkey", "c_custkey"}, keys


def test_decontaminate_broadcasts_benchmark_vocab(q):
    """The corpus side must never shuffle its shingles: the benchmark
    vocabulary and the per-doc hit counts both arrive by broadcast; the
    only hash shuffles are the two doc_id/shingle aggregations."""
    import re

    text = plans.explain_str(q("q_decontaminate"), "simple")
    assert text.count("BroadcastHashJoin") >= 2, "vocab or hits not broadcast"
    assert "CartesianProduct" not in text
    keys = set(re.findall(r"hashpartitioning\((\w+)#", text))
    assert keys <= {"doc_id", "shingle"}, keys


def test_pack_sequences_windows_on_shard_key(q):
    """Prefix sums must partition on the shard column — a global (empty
    partitionBy) window would serialize the corpus through one task."""
    text = plans.explain_str(q("q_pack_sequences"), "simple")
    assert "Window" in text
    assert "hashpartitioning(source#" in text
    assert "SinglePartition" not in text


def test_semdedup_broadcast_anti_join(q):
    """The dropped-id set rides a broadcast left-anti join; pairing stays
    cluster-keyed (no all-pairs)."""
    import re

    text = plans.explain_str(q("q_semdedup"), "simple")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", text), "anti join not broadcast"
    assert "CartesianProduct" not in text


def test_stratified_sample_no_shuffle(q):
    """Hash-threshold sampling is a pure map-side filter."""
    assert plans.shuffle_count(q("q_stratified_sample")) == 0


def test_gopher_rules_no_shuffle(q):
    """Every rule is a projection expression — zero exchanges."""
    assert plans.shuffle_count(q("q_gopher_rules")) == 0


def test_market_share_broadcasts_all_dims(q):
    """Q8 shape: part filter, supplier nation, customer nation+region all
    broadcast; the only fact-side hash shuffle key is the orderkey join."""
    import re

    text = plans.explain_str(q("q_market_share"), "simple")
    assert text.count("BroadcastHashJoin") >= 4
    keys = set(re.findall(r"hashpartitioning\((\w+)#", text))
    # fact side may shuffle only for the orderkey join (large-SF) and the
    # final per-year rollup (Catalyst names the year expr _groupingexpression)
    assert keys <= {"l_orderkey", "o_orderkey", "o_year", "_groupingexpression"}, keys


def test_hash_sample_no_shuffle(q):
    """md5-threshold sampling is a pure map-side filter."""
    assert plans.shuffle_count(q("q_hash_sample")) == 0


def test_extract_mentions_no_shuffle_no_python(q):
    """Regex extraction stays a JVM projection: no exchange, no Python
    eval in the plan."""
    df = q("q_extract_mentions")
    assert plans.shuffle_count(df) == 0
    assert "Python" not in plans.explain_str(df, "simple")


def test_cooccurrence_joinless_two_shuffles(q):
    """Pairs are generated in-row from the per-cell sorted type set —
    the plan must contain NO join of any kind and exactly the two
    aggregation shuffles (cells, pair counts)."""
    text = plans.explain_str(q("q_event_cooccurrence"), "simple")
    assert "Join" not in text
    assert text.count("Exchange hashpartitioning") <= 2


def test_zscore_broadcasts_stats(q):
    """The 5-row stats aggregate must broadcast back onto the fact scan."""
    assert plans.has_broadcast_join(q("q_zscore_outliers"))


def test_gap_fill_grid_is_broadcast_built(q):
    """The dense axis comes from a broadcast 1-row bounds aggregate; the
    fact table must never cross-join the grid."""
    text = plans.explain_str(q("q_gap_fill"), "simple")
    assert "CartesianProduct" not in text


@pytest.mark.parametrize("name", ["q_edit_distance", "q_ngram_jaccard"])
def test_pair_queries_join_on_id_band(q, name):
    """The blocked-pair joins must equi-key on the id band (__band), never
    lang alone: a lang-only key hashes the corpus onto ~5 reducers and
    enumerates near-quadratic within-lang pairs at scale."""
    import re

    text = plans.explain_str(q(name), "simple")
    assert "CartesianProduct" not in text and "BroadcastNestedLoop" not in text
    # equi-key list of the pair join must carry __band (broadcast form at
    # tiny SF: `BroadcastHashJoin [__la#7, __band#12L], ...`; shuffle form
    # at scale: `hashpartitioning(__la#7, __band#12L, ...)`)
    assert re.search(r"HashJoin \[[^\]]*__band#", text) or re.search(
        r"hashpartitioning\([^)]*__band#", text
    ), f"{name}: pair join not keyed on __band"


def test_source_overlap_reuses_fingerprint_exchange(spark, sf_dir):
    """At scale (no broadcast) the fingerprint self-join's right side must
    be a ReusedExchange of the left — the md5-over-sorted-tokens
    projection runs ONCE, not once per join side."""
    from npm_mirror_spark.plans.inspect import large_scale_plan

    with large_scale_plan(spark):
        df = QUERIES["q_source_overlap"](spark, sf_dir)
        text = plans.explain_str(df, "simple")
    assert "ReusedExchange" in text, "fingerprint subtree computed twice"
    assert "SortMergeJoin [fp#" in text.replace("  ", " ") or "fp#" in text


def test_cap_per_group_partial_window_limit(spark, sf_dir):
    """The per-group cap must run a PARTIAL WindowGroupLimit before the
    exchange: each map task forwards at most k rows per group, so the
    shuffle moves O(groups x k), not the corpus."""
    from npm_mirror_spark.plans.inspect import no_aqe

    with no_aqe(spark):
        df = QUERIES["q_cap_per_source"](spark, sf_dir)
        text = plans.explain_str(df, "simple")
    assert "WindowGroupLimit" in text
    assert "Partial" in text, "map-side partial top-k missing"


def test_dup_ngram_fraction_partial_agg_and_reused_scan(spark, sf_dir):
    """The carrier count must be groupBy+join, NOT a count-window: the
    groupBy gets map-side partial aggregation and the attach join is an
    AQE-splittable sort-merge join, so a boilerplate shingle carried by
    1e8 docs cannot funnel into one task (a window partition has no skew
    mitigation). The double-scan cost the join form would imply is paid
    once: both join inputs share the distinct exchange (ReusedExchange)."""
    import re

    from npm_mirror_spark.plans.inspect import large_scale_plan

    with large_scale_plan(spark):
        df = QUERIES["q_dup_ngram_fraction"](spark, sf_dir)
        text = plans.explain_str(df, "simple")
    assert "Window" not in text, "carrier count regressed to a count-window"
    assert "SortMergeJoin" in text
    assert "ReusedExchange" in text, "distinct subtree computed twice"
    assert re.search(r"partial_count", text), "carrier count lost partial agg"


def test_variant_decode_pure_projection(q):
    """VARIANT parse + path access stays a map-side projection: no
    exchange, no Python eval; binary variants never shuffle."""
    df = q("q_variant_decode")
    assert plans.shuffle_count(df) == 0
    assert "Python" not in plans.explain_str(df, "simple")


# Queries allowed to plan a BroadcastNestedLoopJoin, each with the reason
# the plan stays BOUNDED at scale (broadcast side small by contract, or
# an explicit size gate). Any face, registered or staged, planning a BNLJ
# outside this list fails the lint below — the reviewer must either fix
# the plan or justify a new entry here.
ALLOWED_BNLJ = {
    "q_lag": "single-row max-date scalar broadcast to the fact side",
    "q_theilsen": (
        "non-equi day-pair wedge over the per-day-collapsed axis (bounded "
        "by the date domain, broadcast) + 1-row slope-count/median folds"
    ),
    "q_kappa": "1-row agree-count x 1-row chance-agreement (pe) folds",
    "q_cochran_armitage": (
        "1-row (N, R) totals broadcast onto the bounded score axis"
    ),
    "q_cosine_topk": "probes (vec_id<5, contract-small) broadcast to corpus",
    "q_valuable_parts": "scalar avg-price subquery broadcast",
    "q_gap_fill": "per-user (min,max)-day bounds vs a generated day axis",
    "q_rrf_fusion": "probe set (vec_id<5) broadcast; corpus scanned once",
    "q_cosine_dup_pairs": (
        "deliberate all-pairs exactness baseline, SIZE-GATED: the operator "
        "refuses inputs > 100k rows (test_cosine_dup_pairs_size_gate)"
    ),
    "q_ann_ivf": "centroids + probes broadcast; corpus equi-joins on cluster",
    "q_ivf_dup_pairs": "IVF centroid table broadcast for assignment",
    "q_semdedup": "IVF centroid table broadcast for assignment",
    "q_ann_recall": "exact+ANN probe sets (vec_id<5) broadcast",
    "q_idle_rich_customers": "scalar avg-balance subquery broadcast",
    "q_quality_percentile_filter": "single-row percentile threshold broadcast",
    "q_bm25": "single-row (n_docs, total_dl) corpus-stats broadcast",
    "q_hybrid_search": (
        "BM25 arm's single-row stats broadcast + cosine arm's contract-small "
        "probe (vec_id=0) broadcast; fusion joins two 50-row lists"
    ),
    "q_lm_nll": "single-row (T, V) LM-stats broadcast into the token stream",
    "q_token_drift": "single-row corpus-total broadcast into the term stream",
    "q_quantile_norm": (
        "single-row corpus-count broadcast + _with_prior_sums' single-row "
        "(min,max) score-range broadcast for prefix-sum buckets"
    ),
    "q_decay_counts": "single-row max-ts anchor broadcast to the fact side",
    "q_fk_audit": "1-row child-count x 1-row orphan-count folds per relation",
    "q_kmv_distinct": "1-row sketch fold x 1-row exact-count broadcast",
    "q_benford": "single-row corpus-count broadcast onto the 9-digit axis",
    "q_winsorized_mean": (
        "single-row corpus-count + single-row exact [p05,p95] bound frames "
        "broadcast (and _with_prior_sums' (min,max) stats row)"
    ),
    "q_lm_bigram": "single-row (T, V) LM-stats broadcast into the bigram stream",
    "q_spearman": (
        "single-row moment fold only; the rank maps equi-join — no loop "
        "join touches raw rows"
    ),
    "q_runs_test": (
        "1-row total + 1-row median broadcast onto the bounded day axis"
    ),
    "q_mann_kendall": (
        "deliberate broadcast non-equi pair join on the CALENDAR-DAY axis "
        "(bounded by construction, ~3k rows/decade — raw rows collapse to "
        "one row per day first) + 1-row n_days fold"
    ),
    "q_kanonymity": "3-row k-literal table broadcast onto the class table",
    "q_chisq": "single-row N fold broadcast onto the bounded cell table",
    "q_pr_curve": (
        "single-row positives-total broadcast onto the threshold axis + "
        "single-row (min,max) score-range broadcast for prefix-sum buckets"
    ),
    "q_classifier_eval": (
        "single-row (min,max) score-range broadcast for prefix-sum buckets"
    ),
    "q_hll_replay": (
        "single-row exact-distinct validation count broadcast onto the "
        "single-row register fold"
    ),
    "q_binned_quantiles": (
        "single-row (min,max) histogram-range broadcast + len(qs)-row "
        "quantile-literal broadcast onto the <=bins-row cumulative table"
    ),
    "q_ann_ivf_trained": (
        "k=8 trained-centroid table + probes (vec_id<5) broadcast for "
        "assignment/search; corpus equi-joins on cluster (same contract "
        "as q_ann_ivf)"
    ),
    "q_pagerank_directed": (
        "per-round 1-row dangling-mass aggregate cross-joined (broadcast) "
        "onto the node table — the singleton fold that redistributes sink "
        "rank without a driver collect"
    ),
    "q_zorder": (
        "single-row min/max range-stats frame broadcast for the integer "
        "coordinate bucketing (the _with_prior_sums stats pattern)"
    ),
    "q_skew_report": (
        "single-row global distribution stats broadcast onto the "
        "driver-bounded top-k heavy-key rows"
    ),
    "q_join_size_est": (
        "1-row CMS estimate cross-joined with the 1-row exact F2 — both "
        "sides singleton aggregates by construction"
    ),
    "q_hll_setops": (
        "four 1-row estimate/exact frames cross-joined into the report "
        "row — every side a singleton aggregate over bounded registers"
    ),
    "q_hll_by_group": (
        "single-row global exact-distinct validation frame broadcast onto "
        "the single-row '__all__' register roll-up"
    ),
    "q_quantiles_by_group": (
        "len(qs)-row quantile-literal broadcast onto the per-group "
        "<=bins-row cumulative table (the q_binned_quantiles shape, keyed)"
    ),
    "q_drift_report": (
        "two 1-row per-side metric frames cross-joined (broadcast) before "
        "the bounded per-column unpivot — both sides singleton aggregates"
    ),
    "q_quantile_bins": (
        "single-row (n_bins-1)-element cut-point array broadcast for the "
        "map-side bin assignment, plus the q_binned_quantiles shapes "
        "deriving it"
    ),
    "q_calibration": (
        "single-row (min,max) score-range broadcast for the equi-width "
        "bin expression (the histogram stats pattern)"
    ),
    "q_pagerank_seeded": (
        "per-round 1-row dangling-mass aggregate cross-joined (broadcast) "
        "onto the flagged node table (same contract as q_pagerank_directed)"
    ),
    "q_assoc_rules": (
        "single-row basket-count frame broadcast onto the bounded "
        "(c_ab >= 5) rule table for the support/lift denominators"
    ),
    "q_rank_sum": (
        "single-row (n1, n2) totals broadcast onto the 1-row doubled "
        "rank-sum fold, plus _with_prior_sums' (min,max) stats row"
    ),
    "q_ks_stat": (
        "single-row (n1, n2) totals broadcast into the per-value ECDF "
        "gap stream before the 1-row struct-max fold, plus "
        "_with_prior_sums' (min,max) stats row"
    ),
    "q_cusum": (
        "single-row (m, total) series fold cross-joined (broadcast) "
        "onto the bounded day-axis prefix table"
    ),
    "q_collocations": (
        "single-row bigram-total frame broadcast onto the min_count-"
        "filtered pair table for the lift denominator"
    ),
    "q_skyline": (
        "_with_prior_max's single-row (min,max) price-range broadcast "
        "for the order-preserving prefix-max buckets"
    ),
    "q_kruskal": (
        "single-row (n_total, tie_cubes) totals broadcast onto the "
        "per-group fold, plus _with_prior_sums' (min,max) stats row"
    ),
    "q_kendall_tau": (
        "deliberate broadcast non-equi pair join on the CALENDAR-DAY "
        "axis (bounded by construction — the q_mann_kendall contract) "
        "+ 1-row n_days fold"
    ),
    "q_anova_cells": (
        "single-row (n_total, grand-sum) totals broadcast onto the "
        "per-group fold"
    ),
    "q_systematic_sample": (
        "_with_prior_sums' single-row (min,max) key-range broadcast for "
        "the prefix-sum buckets; the boundary test itself is map-side"
    ),
    "q_gini_split": (
        "single-row (N, P) totals broadcast onto the distinct-value "
        "threshold table, plus _with_prior_sums' (min,max) stats row"
    ),
    "q_changepoint": (
        "single-row (n_days, S, Q) totals broadcast onto the bounded "
        "day-axis prefix table (the q_cusum singleton-fold shape)"
    ),
    # --- registered family faces (npm_mirror_spark/faces/) ---
    "q_friedman": "1-row (k, n) completeness frame broadcast per treatment",
    "q_brown_forsythe": (
        "1-row grand-total fold broadcast (the q_anova_cells shape)"
    ),
    "q_jonckheere": (
        "zero-filled (value-axis x k-group) grid build, bounded by the "
        "ordinal-domain contract (the q_gap_fill bounded-grid class)"
    ),
    "q_gk_gamma": (
        "zero-filled (x-domain x y-domain) grid build, bounded by the "
        "ordinal-domain contract — the dominance-count rewrite already "
        "removed the |cells|^2 non-equi join"
    ),
    "q_cochran_q": (
        "1-row block-side and treatment-side sum frames broadcast"
    ),
    "q_vocab_coverage": (
        "1-row totals x 4-row threshold frame broadcast onto the bounded "
        "count-class axis"
    ),
    "q_mood_median": "1-row global doubled-median frame broadcast",
    "q_capture_recapture": "three 1-row count folds broadcast",
    "q_hilbert_audit": (
        "1-row min/max bounds frame broadcast for the integer coordinate "
        "scaling (the q_zorder range-stats shape)"
    ),
    "q_page_trend": (
        "1-row (k, n) completeness frame broadcast per treatment (the "
        "q_friedman shape)"
    ),
    "q_quade": (
        "1-row k-frame broadcast onto the per-(block, treatment) cells "
        "(the q_friedman completeness shape)"
    ),
    "q_conover_scale": (
        "_with_prior_sums' single-row (min,max) z2-range broadcast for "
        "the prefix-sum buckets"
    ),
    "q_cliff_delta": (
        "zero-filled (value-axis x k-group) grid build, bounded by the "
        "ordinal-domain contract (the q_jonckheere / q_gk_gamma "
        "bounded-grid class)"
    ),
    "q_digit_pref": (
        "single-row corpus-count broadcast onto the 10-digit axis (the "
        "q_benford shape)"
    ),
    "q_hoeffding": (
        "zero-filled (x-domain x y-domain) grid build + two k-bounded "
        "axis-midrank frames broadcast (the q_gk_gamma bounded-grid class)"
    ),
    "q_mrr": (
        "probes (vec_id<5, contract-small) broadcast to corpus — "
        "inherited from the allowlisted q_cosine_topk / q_ann_recall "
        "shape its exact arm reuses"
    ),
    "q_somers_d": (
        "zero-filled (prio x line-count) grid build + 1-row tie/meta "
        "folds (the q_gk_gamma bounded-grid class)"
    ),
    "q_tau_c": (
        "zero-filled (p_size x price-decade) grid build + 1-row tie/meta "
        "folds (the q_gk_gamma bounded-grid class)"
    ),
    "q_fleiss_kappa": (
        "three 1-row folds (subject spectrum, category spectrum, dropped "
        "count) broadcast (the q_kappa shape)"
    ),
    "q_weighted_kappa": (
        "bounded (k x k) rating-margin cross product + two 1-row folds "
        "(the q_gk_gamma bounded-grid class)"
    ),
    "q_signed_rank": (
        "1-row rank-sum fold broadcast onto the 1-row pair-count fold "
        "(the q_kappa shape)"
    ),
    "q_cvm2": (
        "1-row group-total fold broadcast onto the bounded quantity axis "
        "+ _with_prior_sums' (min,max) stats row (the q_quantile_norm "
        "shape)"
    ),
    # --- staged faces (registry.all_faces()) ---
    "q_kendall_w": (
        "1-row k-frame broadcast onto the per-treatment fold + the 1-row "
        "tie-sum fold (the q_friedman shape)"
    ),
    "q_icc": (
        "two 1-row folds (subject moments, dropped count) broadcast (the "
        "q_kappa shape)"
    ),
    "q_dixon": (
        "1-row extremes frame broadcast back onto the day rows for the "
        "conditional second-extreme fold (the q_benford 1-row-fold class)"
    ),
    "q_grubbs": (
        "1-row (n, T, Q) totals broadcast onto the day rows (the "
        "q_decay_counts anchor shape)"
    ),
    "q_rank_scale": (
        "1-row (n1, n2) totals broadcast onto the bounded quantity axis + "
        "_with_prior_sums' (min,max) stats row (the q_quantile_norm shape)"
    ),
    "q_gk_lambda": "four 1-row margin/meta folds broadcast (the q_kappa shape)",
    "q_morans_i": (
        "1-row (n, S1, S2) totals broadcast onto the lag-joined day pairs + "
        "the 1-row pair fold (the q_decay_counts anchor shape)"
    ),
    "q_blomqvist_beta": (
        "two 1-row doubled-median folds broadcast onto the rows (the "
        "q_mood_median shape)"
    ),
    "q_kuiper": (
        "1-row (n1, n2) totals broadcast onto the bounded value axis + "
        "_with_prior_sums' (min,max) stats row (the q_ks_stat shape)"
    ),
    "q_krippendorff": (
        "three 1-row folds (pair sums, dropped count, margin spectrum) "
        "broadcast (the q_kappa shape)"
    ),
    "q_hodges_lehmann": (
        "bounded (dA x dB) distinct-value difference grid + 1-row "
        "pair-count/median folds (the q_gk_gamma bounded-grid class)"
    ),
    "q_cuzick": (
        "1-row tie fold broadcast onto the rank fold + _with_prior_sums' "
        "(min,max) stats row (the q_quantile_norm shape)"
    ),
    "q_cronbach": (
        "1-row global-item-count frame broadcast for the completeness gate "
        "+ three 1-row moment folds (the q_kappa shape)"
    ),
    "q_gwet_ac1": (
        "three 1-row folds (pair sums, dropped count, margin spectrum) "
        "broadcast (the q_krippendorff shape)"
    ),
    "q_tau_partial": (
        "three ordinal_assoc_cells compositions — the q_somers_d "
        "bounded-grid dominance class, x3, plus the final 1-row tau folds"
    ),
    "q_aligned_ranks": (
        "1-row global-treatment-count frame broadcast for the completeness "
        "gate + 1-row meta folds (the q_friedman shape) + "
        "_with_prior_sums' (min,max) stats row"
    ),
    "q_robust_shape": (
        "1-row totals broadcast onto the bounded value axis + "
        "_with_prior_sums' (min,max) stats row (the q_quantile_norm shape)"
    ),
    "q_tukey_fences": (
        "1-row quartile frame broadcast back onto the rows for the census "
        "fold (the q_mood_median shape)"
    ),
    "q_footrule": (
        "_with_prior_sums' (min,max) stats rows, one per axis (the "
        "q_spearman shape)"
    ),
    "q_ndcg": (
        "probes (vec_id<5, contract-small) broadcast to corpus — inherited "
        "from the allowlisted q_cosine_topk / q_ann_ivf shapes its two "
        "arms reuse"
    ),
    "q_rbo": (
        "probes (vec_id<5, contract-small) broadcast to corpus — the same "
        "q_cosine_topk / q_ann_ivf inherited shape"
    ),
    "q_weekday_anova": (
        "1-row (n_total, grand-sum) totals broadcast onto the 7 weekday "
        "groups (the q_anova_cells shape)"
    ),
    "q_rank_stability": (
        "_with_prior_sums' (min,max) stats rows, one per axis (the "
        "q_spearman shape)"
    ),
    "q_gk_tau": (
        "1-row (N, sum n_c^2) totals broadcast onto the bounded x-category "
        "rows (the q_anova_cells shape)"
    ),
    "q_variance_ratio": (
        "1-row (s2_max, s2_min) fold broadcast onto the 7 weekday moment rows"
    ),
    "q_t_closeness": (
        "bounded sensitive-domain grid: the 5-segment value frame (x 1-row "
        "total) broadcast onto the 25 nation classes"
    ),
    "q_hoover_index": (
        "1-row (n, T) totals broadcast onto the per-customer unit rows (the "
        "runs_test_daily median-fold shape)"
    ),
    "q_rand_index": (
        "three 1-row pair-count aggregates (cells, row margins, column "
        "margins) broadcast-folded — the q_anova_cells 1-row shape, three "
        "times"
    ),
    "q_dunn_pairs": (
        "the k-row kruskal_cells frame self-paired on a bounded inequality "
        "grid (k(k-1)/2 rows, broadcast) — plus the kruskal_cells "
        "singleton-fold it inherits"
    ),
    "q_modularity": (
        "1-row m fold + 1-row term-sum fold broadcast onto the community "
        "rows (the q_anova_cells shape, twice)"
    ),
    "q_conductance": "1-row m fold broadcast onto the community rows",
    "q_attr_assortativity": (
        "three 1-row aggregates (edge/same counts, category masses) "
        "broadcast-combined"
    ),
    "q_lift_gains": (
        "1-row (N, P) totals broadcast onto the distinct-score prefix rows, "
        "plus _with_prior_sums' (min,max) stats row (the q_spearman shape)"
    ),
    "q_lorenz": (
        "1-row (N, T) totals broadcast onto the distinct-value prefix rows, "
        "plus the same prior-sums stats row"
    ),
    "q_rich_club": (
        "two 1-row conditional aggregates (per-k edge and node counts over "
        "the literal threshold grid) broadcast-combined"
    ),
    "q_pacf": (
        "the 3-row lag-literal frame broadcast onto the daily series for "
        "the pair join, plus the 1-row totals fold"
    ),
}


def test_metrics_windows_are_bucket_partitioned(spark):
    """binary_metrics/pr_curve on RAW FLOAT scores (distinct ≈ N) must
    never plan an unpartitioned window over the score axis — the r5
    verdict's single-reducer finding. Every windowspecdefinition in the
    plan must involve the bounded __bkt key: either PARTITIONED BY it
    (the per-bucket score window, parallel) or ORDERED BY it (the
    ≤n_buckets-row offset window, bounded by construction)."""
    import re

    from pyspark.sql import functions as F

    from npm_mirror_spark.operators.classifier import binary_metrics, pr_curve

    df = spark.range(2000).select(
        F.rand(7).alias("score"), (F.col("id") % 2).cast("int").alias("label")
    )
    for out in (binary_metrics(df, "score"), pr_curve(df, "score")):
        text = plans.explain_str(out, "simple")
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
        assert specs, "expected window operators in the metrics plan"
        for spec in specs:
            assert "__bkt" in spec, (
                f"window not bounded by the bucket key: {spec}"
            )


def test_no_unbounded_loop_join_anywhere_in_registry(spark, sf_dir):
    """Registry-wide scale lint over every registered and staged face
    (``registry.all_faces()``): NO face may plan a CartesianProduct —
    an all-pairs product is never the right answer at 100 TB — and a
    BroadcastNestedLoopJoin is legal ONLY for the allowlisted queries
    whose broadcast side is bounded by contract (scalar subqueries,
    probe sets, centroid tables). A new BNLJ anywhere else is treated as
    an accidental all-pairs plan until justified."""
    from npm_mirror_spark.registry import all_faces

    cart, bnlj = [], []
    for name, fn, _ in all_faces():
        text = plans.explain_str(fn(spark, sf_dir), "simple")
        if "CartesianProduct" in text:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in text and name not in ALLOWED_BNLJ:
            bnlj.append(name)
    assert cart == [], f"cartesian products in: {cart}"
    assert bnlj == [], f"unjustified BroadcastNestedLoopJoin in: {bnlj}"


def test_epoch_shuffle_windows_on_shard_key(q):
    """epoch_shuffle's position window must be PARTITIONED BY the shard
    key (parallel per-shard sorts — the shard-writer plan), never an
    unpartitioned global sort."""
    import re

    text = plans.explain_str(q("q_epoch_shuffle"), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
    assert specs, "expected a window in the epoch_shuffle plan"
    for spec in specs:
        assert spec.lstrip().startswith("shard"), (
            f"window not partitioned by shard: {spec}"
        )


def test_contamination_report_broadcasts_bench_vocab(q):
    """The corpus side must reach the bench vocabulary via broadcast
    joins (map-side semi + the hit attach) — corpus-sized rows never
    shuffle for the match itself."""
    df = q("q_contamination_report")
    assert plans.has_broadcast_join(df)
    text = plans.explain_str(df, "simple")
    assert "BroadcastHashJoin" in text and "LeftSemi" in text


def test_cut_contaminated_broadcasts_bench_vocab(q):
    df = q("q_cut_contaminated")
    text = plans.explain_str(df, "simple")
    assert "BroadcastHashJoin" in text and "LeftSemi" in text


def test_token_budget_windows_on_group_key(q):
    """token_budget_select must plan the TWO-LEVEL bucketed prefix sum
    (the classifier _with_prior_sums shape): every window is anchored on
    the group key AND bounded by the __bkt bucket key — either ordered
    by it (the <=n_buckets-row per-group offset window) or partitioned
    by (group, __bkt) (the parallel intra-bucket window). A spec without
    __bkt is the old per-group unbounded window: one reducer per source
    at 100 TB."""
    import re

    text = plans.explain_str(q("q_token_budget"), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
    assert specs and all(s.lstrip().startswith("source") for s in specs)
    for spec in specs:
        assert "__bkt" in spec, f"window not bounded by bucket key: {spec}"


def test_weighted_percentile_windows_on_bucket_key(q):
    """weighted_percentile_by must plan the TWO-LEVEL bucketed prefix
    sum (the token_budget_select shape, r7 verdict item 2): every
    window is anchored on the group key AND bounded by the __bkt
    bucket key — either ordered by it (the <=n_buckets+1-row per-group
    offset window) or partitioned by (group, __bkt) (the parallel
    intra-bucket window). A spec without __bkt is the old per-group
    unbounded window over the distinct-value axis: one reducer per
    group for a high-cardinality measure at 100 TB."""
    import re

    text = plans.explain_str(q("q_weighted_median"), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
    assert specs and all(s.lstrip().startswith("source") for s in specs)
    for spec in specs:
        assert "__bkt" in spec, f"window not bounded by bucket key: {spec}"


def test_zorder_key_is_mapside_single_rollup_shuffle(spark, sf_dir):
    """The Morton key must be a map-side expression: the only data
    shuffle in the q_zorder plan is the final (shard) count/min/max
    rollup; the bounds frame rides a broadcast, never an exchange of
    the fact side, and nothing runs in Python."""
    import re

    df = QUERIES["q_zorder"](spark, sf_dir)
    text = plans.explain_str(df, "simple")
    # shuffles = Exchange nodes that are neither broadcasts nor the
    # bounded 1-row stats fold (Exchange SinglePartition)
    fact_shuffles = len(re.findall(r"(?<!Broadcast)Exchange (?!SinglePartition)", text))
    assert fact_shuffles <= 1, "fact side shuffled before the rollup"
    assert "BroadcastExchange" in text, "bounds stats must broadcast"
    assert "Python" not in text
    assert "Window" not in text, "no window belongs in a zorder audit"


def test_split_assign_is_shuffle_free_before_rollup(spark, sf_dir):
    """The assignment itself is a map-side expression: the only
    exchange in the q_split_assign plan is the final split rollup."""
    assert plans.shuffle_count(QUERIES["q_split_assign"](spark, sf_dir)) <= 1


def test_hll_registers_single_bounded_shuffle(spark, sf_dir):
    from npm_mirror_spark.operators.sketches import hll_registers
    from npm_mirror_spark.tables import load_table

    regs = hll_registers(load_table(spark, sf_dir, "orders"), "o_custkey")
    assert plans.shuffle_count(regs) == 1
    text = plans.explain_str(regs, "simple")
    assert "partial_max" in text  # map-side combine = mergeable sketch


def test_triangles_wedge_is_equi_join_and_closure_is_semi(q):
    """Degree-ordered orientation shape: the wedge self-join must carry
    the shared-vertex EQUI key (never a cartesian/BNLJ pair product),
    and triangle closure must be a LeftSemi equi join on (v, w)."""
    text = plans.explain_str(q("q_triangles"), "simple")
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "LeftSemi" in text


def test_spearman_windows_are_bucket_partitioned(q):
    """spearman_rho ranks BOTH axes off _with_prior_sums — at 100 TB the
    distinct-value axes of raw measures are ~N, so every window in the
    plan must be anchored on the bounded __bkt bucket key (the
    binary_metrics rule); an unpartitioned rank window over the value
    axis would be a single-reducer sort."""
    import re

    text = plans.explain_str(q("q_spearman"), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
    assert specs, "expected prefix-sum windows in the spearman plan"
    for spec in specs:
        assert "__bkt" in spec, f"window not bounded by the bucket key: {spec}"


def test_chisq_margins_broadcast(q):
    """chisq_independence_cells must attach both margin tables to the
    cell table via broadcast hash joins (category-domain-bounded sides);
    the observed-cell groupBy is the only corpus-sized shuffle."""
    text = plans.explain_str(q("q_chisq"), "simple")
    assert text.count("BroadcastHashJoin") >= 2, text[:800]


def test_edit_joins_exchange_on_hashed_key(q):
    """r10 shape: the deletion-neighborhood self-joins must (a) join on
    the xxhash64 of the variant (8-byte shuffle key, collision-safe
    because the banded verify is exact) and (b) read both sides from an
    explicit hash exchange on that key — without the exchange a
    single-file scan lets the planner broadcast one side and run the
    whole explode+verify probe in ONE task (r10 stage audit: 5.6 s of
    an 8.9 s wall in a single task at sf0.1)."""
    for name in ("q_edit_join", "q_edit2_join"):
        text = plans.explain_str(q(name), "simple")
        assert "xxhash64" in text, f"{name}: join key is not hashed"
        assert "hashpartitioning(__k" in text, (
            f"{name}: no explicit exchange on the variant key"
        )


def test_iterative_graph_plans_read_from_cache(q):
    """r10 shape: the PageRank family and the triangle estimator persist
    their loop-invariant / multiply-consumed tables — the plan must read
    them via InMemoryRelation instead of re-evaluating the edge lineage
    (306 parquet-scan nodes in one uncached 3-round directed plan)."""
    for name in (
        "q_pagerank",
        "q_pagerank_directed",
        "q_pagerank_seeded",
        "q_triangle_est",
        "q_jaccard_exact",
    ):
        text = plans.explain_str(q(name), "simple")
        assert "InMemoryTableScan" in text or "InMemoryRelation" in text, (
            f"{name}: no cached relation in plan — loop lineage re-evaluates"
        )


def test_link_pred_center_exchange_and_equi_wedge(q):
    """r10 late batch: the common-neighbor wedge self-join must read
    both aliases from an explicit hash exchange on the center key (the
    basket_pairs narrow-scan cure — without it a single-file scan lets
    the planner broadcast one side and square every center's adjacency
    in ONE task) and must never plan a cartesian pair product."""
    text = plans.explain_str(q("q_link_pred"), "simple")
    assert "hashpartitioning(c" in text, "no explicit exchange on center"
    assert "CartesianProduct" not in text


def test_hits_persists_loop_invariant_arcs(q):
    """The HITS rounds must read the arc list from the persisted cache
    (InMemoryTableScan), not re-derive the MinHash LSH self-join per
    round — the r10 iterative-lineage discipline (pagerank family)."""
    text = plans.explain_str(q("q_hits"), "simple")
    assert "InMemoryTableScan" in text or "InMemoryRelation" in text
    assert "CartesianProduct" not in text


def test_bfs_rounds_are_equi_joins_on_cached_edges(q):
    """Every BFS frontier expansion is an equi-join against the
    persisted symmetrized edge list; anti joins keep min-hop semantics
    without any window or sort over raw rows."""
    text = plans.explain_str(q("q_bfs_hops"), "simple")
    assert "InMemoryTableScan" in text or "InMemoryRelation" in text
    assert "CartesianProduct" not in text
    assert "SortMergeJoin LeftAnti" in text or "LeftAnti" in text


def test_plans_md_matches_the_code(tmp_path):
    """docs/PLANS.md is what ``tools/face.py dump`` writes for the current
    code. The dump runs in its own process, because it needs its fixed
    ``local[4]`` session: the plans differ at other parallelisms."""
    out = tmp_path / "PLANS.md"
    code = "import sys; from tools.face import plans_markdown as p; open(sys.argv[1], 'w').write(p())"
    run = subprocess.run(
        [sys.executable, "-c", code, str(out)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    committed = (REPO / "docs" / "PLANS.md").read_bytes()
    assert out.read_bytes() == committed, "docs/PLANS.md is stale: run `python tools/face.py dump`"
