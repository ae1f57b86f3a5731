"""Query faces grouped by operator family, each next to its DuckDB oracle.

``stats``, ``checks``, ``temporal`` and ``graph`` hold the faces built on
the operators module of the same name; ``corpus`` holds the ones built on
the text, dedup, similarity, layout and classifier operators.  Each family
module exports ``FACES``, a tuple of :class:`Face` entries.

- ``oracle`` is DuckDB SQL text, or, when the oracle nests a registered
  face's oracle, a function of the registered ``ORACLES`` dict that
  returns the SQL.  :func:`merge` calls it once, after the ``queries.py``
  literal and every registered entry before it in ``ORDER`` are in.
- ``staged`` entries stay out of ``queries.QUERIES`` / ``ORACLES``; only
  ``registry.all_faces()`` (and so the sweeps and the registry-wide
  tests) reaches them.  Registering one means flipping its flag and
  adding it to ``queries.WINDOW_TAIL`` (docs/DRIVER_WINDOW.md).

``ORDER`` is the registration sequence: registered entries follow the
``queries.py`` literal in this order, staged ones follow every registered
face in ``all_faces()`` in this order.
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


class Face(NamedTuple):
    name: str
    face: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[dict[str, str]], str] | None
    staged: bool


ORDER: tuple[str, ...] = (
    "q_friedman", "q_brown_forsythe", "q_jonckheere", "q_durbin_watson",
    "q_gk_gamma", "q_cochran_q", "q_vocab_coverage", "q_km_events",
    "q_mood_median", "q_vocab_richness", "q_capture_recapture",
    "q_hilbert_audit", "q_logrank", "q_mantel_haenszel", "q_page_trend",
    "q_pettitt", "q_conover_scale", "q_digit_pref", "q_mrr",
    "q_ngram_novelty", "q_quade", "q_cliff_delta", "q_hoeffding",
    "q_aalen_johansen", "q_somers_d", "q_tau_c", "q_fleiss_kappa",
    "q_weighted_kappa", "q_bowker", "q_signed_rank", "q_cvm2",
    "q_cox_stuart", "q_seasonal_mk", "q_buishand", "q_nelson_aalen",
    "q_gehan", "q_yule_k",
    "q_turning_point", "q_bartels_rvn", "q_kendall_w", "q_icc", "q_dixon",
    "q_grubbs", "q_rank_scale", "q_gk_lambda", "q_jarque_bera",
    "q_morans_i", "q_blomqvist_beta", "q_kuiper", "q_krippendorff",
    "q_hodges_lehmann", "q_cuzick", "q_cronbach", "q_gwet_ac1",
    "q_tau_partial", "q_aligned_ranks", "q_yuen_trim", "q_robust_shape",
    "q_tukey_fences", "q_footrule", "q_ndcg", "q_rbo", "q_weekday_anova",
    "q_dup_token_share", "q_shift_function", "q_rank_stability",
    "q_foster_stuart", "q_longest_run", "q_gk_tau", "q_variance_ratio",
    "q_t_closeness", "q_lin_ccc", "q_hoover_index", "q_rand_index",
    "q_dunn_pairs", "q_durbin_rank", "q_mcc", "q_transitivity",
    "q_reciprocity", "q_modularity", "q_conductance",
    "q_attr_assortativity", "q_lift_gains", "q_lorenz", "q_rich_club",
    "q_ess_audit", "q_pacf",
)


def table() -> list[Face]:
    """Every family's entries in ``ORDER``; raises ``ValueError`` unless
    ``ORDER`` names each entry's face exactly once."""
    # imported here: the family modules import Face and the helpers above
    from npm_mirror_spark.faces import checks, corpus, graph, stats, temporal

    entries = [
        *stats.FACES, *checks.FACES, *temporal.FACES, *graph.FACES, *corpus.FACES
    ]
    pos = {n: i for i, n in enumerate(ORDER)}
    unordered = {e.name for e in entries} ^ set(pos)
    if len(pos) != len(ORDER) or unordered:
        raise ValueError(f"ORDER does not list each face once: {sorted(unordered)}")
    return sorted(entries, key=lambda e: pos[e.name])


def merge(
    queries: dict[str, Callable], oracles: dict[str, str], entries: list[Face]
) -> list[tuple[str, Callable, str | None]]:
    """Add the registered ``entries`` to ``queries`` / ``oracles`` in order
    and return the staged ones as (name, face, oracle SQL).  Raises
    ``ValueError`` on a name defined twice: among the entries, or by an
    entry and ``queries`` / ``oracles``."""
    seen = set(queries) | set(oracles)
    staged = []
    for e in entries:
        if e.name in seen:
            raise ValueError(f"face {e.name!r} is defined twice")
        seen.add(e.name)
        sql = e.oracle(oracles) if callable(e.oracle) else e.oracle
        if e.staged:
            staged.append((e.name, e.face, sql))
        else:
            queries[e.name] = e.face
            if sql is not None:
                oracles[e.name] = sql
    return staged
