"""Driver-contract query registry.

``QUERIES`` maps each registered face name to its (spark, sf_dir) ->
DataFrame callable, ``ORACLES`` maps it to the matching DuckDB SQL, and
``STAGED`` lists the faces not registered yet.  All three are built once
from ``faces.table()``, the one ordered listing of the ``Face`` rows under
``npm_mirror_spark/faces/``; the faces, their oracles and the determinism
rules they follow live there.

The grading driver checks exactly ``list(QUERIES)[:50]``.  A rotation
edits ONLY ``WINDOW_TAIL`` below; the reorder at the end of this module
makes the dict head equal to ``DRIVER_WINDOW`` and leaves every other
face in registration order (which defines never-checked-queue order).
tests/test_sql_surface.py, tests/test_registry_invariants.py and
docs/DRIVER_WINDOW.md all consume these lists, so a rotation commit
cannot desync the pin test from the registry.  The qname ->
reference-operator mapping rationale is FIXTURES.md §C.
"""

from __future__ import annotations

from npm_mirror_spark import faces

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

QUERIES, ORACLES, STAGED = faces.merge(faces.table())

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
