"""Faces built on the corpus operators (``text``, ``tokenizer``,
``curation``, ``layout``, ``classifier``): text statistics, quality
filters, decontamination, packing and release cuts, vocabulary, novelty,
layout, retrieval-eval and classifier-eval statistics, each next to its
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from npm_mirror_spark.faces import (
    NORM,
    SHINGLES,
    ivf_centroids,
    nodec,
    shingles_sql,
)
from npm_mirror_spark.operators import curation as cur_ops
from npm_mirror_spark.operators import dedup as dedup_ops
from npm_mirror_spark.operators import similarity as sim_ops
from npm_mirror_spark.operators import text as text_ops
from npm_mirror_spark.tables import load_table as _t


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve over the documents corpus: token types
    needed to cover 50/90/95/99% of running text.
    (operators/text.py vocab_coverage.)"""
    from npm_mirror_spark.operators.text import vocab_coverage

    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(d, "text")


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness lower bound + Good–Turing missing
    mass over the documents corpus.  (operators/text.py
    vocab_richness.)"""
    from npm_mirror_spark.operators.text import vocab_richness

    d = _t(spark, sf_dir, "documents")
    return vocab_richness(d, "text")


_VOCAB_COVERAGE_SQL = f"""
WITH n AS (SELECT {NORM} AS t FROM documents),
toks AS (
  SELECT unnest(str_split(t, ' ')) AS tok FROM n
),
tf AS (
  SELECT tok, count(*) AS c FROM toks WHERE tok != '' GROUP BY tok
),
cls AS (
  SELECT c, count(*) AS types, CAST(c AS HUGEINT) * count(*) AS mass
  FROM tf GROUP BY c
),
pri AS (
  SELECT c, types, mass,
    coalesce(sum(types) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ptypes,
    coalesce(sum(mass) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pmass
  FROM cls
),
tot AS (SELECT sum(types) AS tt, sum(mass) AS tm FROM cls),
thr AS (
  SELECT * FROM (VALUES (50, 100), (90, 100), (95, 100), (99, 100))
    AS v(p_num, p_den)
),
crossed AS (
  SELECT thr.p_num, thr.p_den, max(pri.c) AS cutoff_count
  FROM pri CROSS JOIN tot CROSS JOIN thr
  WHERE (pri.pmass + pri.mass) * thr.p_den >= CAST(thr.p_num AS HUGEINT) * tot.tm
  GROUP BY 1, 2
)
SELECT crossed.p_num, crossed.p_den, crossed.cutoff_count,
  CAST(pri.ptypes + pri.types AS BIGINT) AS k_types,
  CAST(pri.pmass + pri.mass AS DOUBLE) AS covered_mass,
  CAST(tot.tt AS BIGINT) AS total_types,
  CAST(tot.tm AS DOUBLE) AS total_mass
FROM crossed
JOIN pri ON pri.c = crossed.cutoff_count
CROSS JOIN tot
ORDER BY p_num, p_den
"""


_VOCAB_RICHNESS_SQL = f"""
WITH n AS (SELECT {NORM} AS t FROM documents),
toks AS (SELECT unnest(str_split(t, ' ')) AS tok FROM n),
tf AS (SELECT tok, count(*) AS c FROM toks WHERE tok != '' GROUP BY tok),
o AS (
  SELECT count(*) AS s_obs,
    sum(CAST(c AS HUGEINT)) AS nn,
    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM tf
)
SELECT CAST(s_obs AS BIGINT) AS s_obs,
  CAST(nn AS DOUBLE) AS n_tokens,
  CAST(f1 AS BIGINT) AS f1,
  CAST(f2 AS BIGINT) AS f2,
  CAST(s_obs AS DOUBLE)
    + (CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0))
      / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1,
  CAST(f1 AS DOUBLE) / CAST(nn AS DOUBLE) AS gt_p0
FROM o
"""


def q_hilbert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard range audit of a Hilbert-curve layout over the
    (l_partkey, l_suppkey) plane — the q_zorder audit's locality-upgrade
    twin (operators/layout.py with_hilbert_key / hilbert_shard_stats):
    16 shards, per-shard count and min/max in BOTH dimensions, every
    number an exact integer (integer-div scaling + the bit-exact
    rotate-and-accumulate transform), so the oracle replays the key
    bit-for-bit with the identical unrolled steps."""
    from npm_mirror_spark.operators.layout import hilbert_shard_stats

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return hilbert_shard_stats(
        li, ["l_partkey", "l_suppkey"], bits=8, shard_bits=4
    ).orderBy("shard")


def _hilbert_oracle(bits: int = 8, shard_bits: int = 4) -> str:
    """Mechanically unroll the Hilbert xy->d steps as chained CTEs —
    the same one-projection-per-bit-level structure the Spark operator
    stages, so the two engines execute literally the same arithmetic."""
    steps = []
    prev = "s0"
    for i, level in enumerate(range(bits - 1, -1, -1), 1):
        s = 1 << level
        steps.append(f"""
s{i} AS (
  SELECT pk, sk,
    d + {s}::BIGINT * {s}::BIGINT * CAST(xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),
                    (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS d,
    CASE WHEN (y & {s}) > 0 THEN x
         WHEN (x & {s}) > 0 THEN {s - 1}::BIGINT - y
         ELSE y END AS x,
    CASE WHEN (y & {s}) > 0 THEN y
         WHEN (x & {s}) > 0 THEN {s - 1}::BIGINT - x
         ELSE x END AS y
  FROM {prev}
)""")
        prev = f"s{i}"
    top = (1 << bits) - 1
    shift = 2 * bits - shard_bits
    return f"""
WITH src AS (
  SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem
),
b AS (
  SELECT min(pk) AS lox, max(pk) AS hix, min(sk) AS loy, max(sk) AS hiy
  FROM src
),
s0 AS (
  SELECT pk, sk,
    CASE WHEN hix - lox <= 0 THEN 0::BIGINT
         ELSE ((pk - lox) * {top}) // (hix - lox) END AS x,
    CASE WHEN hiy - loy <= 0 THEN 0::BIGINT
         ELSE ((sk - loy) * {top}) // (hiy - loy) END AS y,
    0::BIGINT AS d
  FROM src CROSS JOIN b
),{",".join(steps)}
SELECT CAST(d >> {shift} AS INTEGER) AS shard,
  count(*) AS n_rows,
  CAST(min(pk) AS BIGINT) AS min_l_partkey,
  CAST(max(pk) AS BIGINT) AS max_l_partkey,
  CAST(min(sk) AS BIGINT) AS min_l_suppkey,
  CAST(max(sk) AS BIGINT) AS max_l_suppkey
FROM {prev}
GROUP BY 1 ORDER BY shard
"""


def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval MRR cells: per probe, the RANK at which the IVF
    ANN surfaces the TRUE nearest neighbor (exact brute-force top-1),
    and its reciprocal — the position-sensitive companion to
    q_ann_recall's set-overlap recall (a list that buries the true hit
    at rank 3 recalls 1.0 but MRRs 0.33).  Same probes / k / nprobe /
    deterministic centroids as q_ann_ivf, so the oracle COMPOSES the
    two already-verified oracle SQLs (the q_capture_recapture pattern).
    rank = 0 and rr = 0.0 when the true neighbor is missing from the
    shortlist; rr is ONE fixed IEEE division on an exact int.  MRR =
    avg(rr) is the consumer one-liner this face refuses (a float mean
    over data-dependent probe order)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    tru = sim_ops.cosine_topk(e, probes, k=1).select(
        "probe_id", F.col("neighbor_id").alias("true_nn")
    )
    cand = sim_ops.ivf_topk(
        e, probes, ivf_centroids(e), k=3, nprobe=2
    ).select(
        F.col("probe_id").alias("__p"),
        F.col("neighbor_id").alias("__n"),
        F.col("rank").alias("__r"),
    )
    j = tru.join(
        cand,
        (tru["probe_id"] == cand["__p"]) & (tru["true_nn"] == cand["__n"]),
        "left",
    )
    return j.select(
        "probe_id",
        "true_nn",
        F.coalesce(F.col("__r"), F.lit(0)).cast("int").alias("rank"),
        F.when(
            F.col("__r").isNotNull(),
            F.lit(1.0) / F.col("__r").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("rr"),
    ).orderBy("probe_id")


def _mrr_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_cosine_topk / q_ann_ivf oracle SQL into
    the MRR replay (the q_capture_recapture composition pattern: this
    face's oracle can never drift from the registered fixtures')."""
    return f"""
WITH tru AS (
  SELECT probe_id, neighbor_id AS true_nn
  FROM ({ORACLES["q_cosine_topk"]}) WHERE rank = 1 AND probe_id < 5
),
cand AS (
  SELECT probe_id, neighbor_id, rank FROM ({ORACLES["q_ann_ivf"]})
),
j AS (
  SELECT t.probe_id, t.true_nn, c.rank
  FROM tru t LEFT JOIN cand c
    ON t.probe_id = c.probe_id AND t.true_nn = c.neighbor_id
)
SELECT probe_id, CAST(true_nn AS BIGINT) AS true_nn,
  CAST(coalesce(rank, 0) AS INTEGER) AS rank,
  CASE WHEN rank IS NOT NULL THEN 1.0 / CAST(rank AS DOUBLE)
       ELSE 0.0 END AS rr
FROM j ORDER BY probe_id
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the fraction of each source's
    distinct trigram types that appear there FIRST in doc_id order —
    the curation freshness signal dedup alone can't give (a source can
    pass near-dup checks yet re-state n-grams the corpus already
    holds).  (operators/text.py ngram_novelty.)"""
    from npm_mirror_spark.operators.text import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    return ngram_novelty(d, "text", "doc_id", "source", n=3)


# Replay with the registry's shared normalization/shingle CTEs (the
# NORM/trigram construction q_minhash_pairs et al. verify).
_NGRAM_NOVELTY_SQL = f"""
WITH norm AS (
  SELECT doc_id, source, {NORM} AS t FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
),
w AS (SELECT doc_id, source, str_split(t, ' ') AS w, t FROM norm),
sh AS (SELECT doc_id, source,
  CASE WHEN len(w) >= 3
    THEN list_transform(generate_series(1, len(w)-2),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE [t] END AS shingles
  FROM w),
ex AS (SELECT DISTINCT doc_id, source, unnest(shingles) AS s FROM sh),
f AS (SELECT s, min(doc_id) AS fd FROM ex GROUP BY s),
j AS (SELECT ex.source, ex.doc_id, f.fd FROM ex JOIN f ON ex.s = f.s)
SELECT source, CAST(count(*) AS BIGINT) AS n_types,
  CAST(sum(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  CAST(sum(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS novelty
FROM j GROUP BY source ORDER BY source
"""


def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K / Simpson's D / Sichel's S over the documents corpus —
    the repetitiveness reading of the token frequency spectrum, next
    to the registered q_vocab_richness (missing-mass reading) and
    q_vocab_coverage (count-class reading) on the same tokenization.
    (operators/text.py yule_k_cells.)"""
    from npm_mirror_spark.operators.text import yule_k_cells

    return yule_k_cells(_t(spark, sf_dir, "documents"), "text")


_YULE_SQL = f"""
WITH n AS (SELECT {NORM} AS t FROM documents),
toks AS (SELECT unnest(str_split(t, ' ')) AS tok FROM n),
tf AS (SELECT tok, count(*) AS c FROM toks WHERE tok != '' GROUP BY tok),
spec AS (
  SELECT count(*) AS s_types,
    coalesce(sum(CAST(c AS HUGEINT)), 0) AS nn,
    coalesce(sum(CAST(c AS HUGEINT) * c), 0) AS c2,
    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM tf
)
SELECT CAST(nn AS BIGINT) AS n_tokens,
  CAST(s_types AS BIGINT) AS s_types,
  CAST(c2 AS DOUBLE) AS sum_c2,
  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
  CASE WHEN nn > 0
       THEN CAST(10000 * (c2 - nn) AS DOUBLE) / CAST(nn * nn AS DOUBLE)
       END AS yule_k,
  CASE WHEN nn > 1
       THEN CAST(c2 - nn AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE)
       END AS simpson_d,
  CASE WHEN s_types > 0
       THEN CAST(f2 AS DOUBLE) / CAST(s_types AS DOUBLE) END AS sichel_s
FROM spec
"""


#: log2(3) as a decimal-string literal: both engines parse the SAME
#: string to the SAME correctly-rounded double (the _POISSON1_CDF
#: precedent in stats.py), so no libm log runs at query time.
_LOG2_3 = 1.584962500721156


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval nDCG@3 cells per probe — the position-AND-grade
    companion to q_ann_recall (set overlap) and q_mrr (first-hit
    position): the IVF shortlist is scored against graded relevance
    from the exact top-3 (rel = 4 - exact_rank, so the true nearest
    neighbor is worth 3, the third 1, anything else 0).  Same probes /
    k / nprobe / deterministic centroids as q_ann_ivf, so the oracle
    COMPOSES the two already-verified oracle SQLs.

    Determinism: rel1..rel3 are exact integers; DCG = rel1/1.0 +
    rel2/log2(3) + rel3/2.0 is a FIXED 3-term IEEE sequence whose only
    non-trivial constant is the literal ``_LOG2_3`` both engines parse
    identically (no runtime libm); IDCG is the same expression over
    the full judged set (3, 2, 1) — constant because every probe has
    exactly 3 judged docs — and ndcg = dcg/idcg is ONE more division.

    Output per probe: probe_id, rel1, rel2, rel3, dcg, idcg, ndcg —
    ordered by probe_id.  The corpus-level mean nDCG is the consumer
    one-liner this face refuses (a float mean in data-dependent probe
    order).
    """
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    judged = sim_ops.cosine_topk(e, probes, k=3).select(
        F.col("probe_id").alias("__jp"),
        F.col("neighbor_id").alias("__jn"),
        (F.lit(4) - F.col("rank")).cast("long").alias("__rel"),
    )
    run = sim_ops.ivf_topk(
        e, probes, ivf_centroids(e), k=3, nprobe=2
    ).select(
        F.col("probe_id").alias("__p"),
        F.col("neighbor_id").alias("__n"),
        F.col("rank").alias("__r"),
    )
    j = run.join(
        judged,
        (run["__p"] == judged["__jp"]) & (run["__n"] == judged["__jn"]),
        "left",
    ).select("__p", "__r", F.coalesce("__rel", F.lit(0)).alias("__rel"))
    per = j.groupBy("__p").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("__r") == i, F.col("__rel"))), F.lit(0)
            ).alias(f"rel{i}")
            for i in (1, 2, 3)
        ]
    )
    dcg = (
        F.col("rel1").cast("double") / F.lit(1.0)
        + F.col("rel2").cast("double") / F.lit(_LOG2_3)
        + F.col("rel3").cast("double") / F.lit(2.0)
    )
    idcg = (
        F.lit(3.0) / F.lit(1.0)
        + F.lit(2.0) / F.lit(_LOG2_3)
        + F.lit(1.0) / F.lit(2.0)
    )
    return (
        per.select(
            F.col("__p").alias("probe_id"),
            "rel1",
            "rel2",
            "rel3",
            dcg.alias("dcg"),
            idcg.alias("idcg"),
            (dcg / idcg).alias("ndcg"),
        )
        .orderBy("probe_id")
    )


def _ndcg_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_cosine_topk / q_ann_ivf oracle SQL into
    the nDCG replay (the q_mrr composition pattern)."""
    return f"""
WITH judged AS (
  SELECT probe_id, neighbor_id, 4 - rank AS rel
  FROM ({ORACLES["q_cosine_topk"]})
  WHERE probe_id < 5 AND rank <= 3
),
run AS (
  SELECT probe_id, neighbor_id, rank FROM ({ORACLES["q_ann_ivf"]})
),
j AS (
  SELECT run.probe_id, run.rank,
    coalesce(judged.rel, 0) AS rel
  FROM run LEFT JOIN judged
    ON run.probe_id = judged.probe_id
   AND run.neighbor_id = judged.neighbor_id
),
per AS (
  SELECT probe_id,
    coalesce(max(CASE WHEN rank = 1 THEN rel END), 0) AS rel1,
    coalesce(max(CASE WHEN rank = 2 THEN rel END), 0) AS rel2,
    coalesce(max(CASE WHEN rank = 3 THEN rel END), 0) AS rel3
  FROM j GROUP BY probe_id
)
SELECT probe_id,
  CAST(rel1 AS BIGINT) AS rel1,
  CAST(rel2 AS BIGINT) AS rel2,
  CAST(rel3 AS BIGINT) AS rel3,
  CAST(rel1 AS DOUBLE) / 1.0
    + CAST(rel2 AS DOUBLE) / {_LOG2_3!r}
    + CAST(rel3 AS DOUBLE) / 2.0 AS dcg,
  3.0 / 1.0 + 2.0 / {_LOG2_3!r} + 1.0 / 2.0 AS idcg,
  (CAST(rel1 AS DOUBLE) / 1.0
    + CAST(rel2 AS DOUBLE) / {_LOG2_3!r}
    + CAST(rel3 AS DOUBLE) / 2.0)
  / (3.0 / 1.0 + 2.0 / {_LOG2_3!r} + 1.0 / 2.0) AS ndcg
FROM per ORDER BY probe_id
"""


def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap @3 (p = 0.9) between the IVF shortlist and
    the exact top-3, per probe — the prefix-overlap curve the other
    three retrieval-eval faces don't read: recall@k sees sets, MRR
    sees the first hit, nDCG sees graded positions; RBO weights
    AGREEMENT OF PREFIXES, so a list that gets the top-1 right but
    scrambles 2-3 scores differently from one that nails 2-3 and
    misses the top-1 (Webber et al. 2010, truncated form).

    Determinism: the overlaps o1..o3 (|exact[:i] ∩ ann[:i]|) are exact
    integers from ONE equi join on (probe, neighbor); rbo = 0.1 *
    (o1/1.0 + 0.9*o2/2.0 + 0.81*o3/3.0) is a FIXED IEEE sequence whose
    p-power constants are decimal-string literals both engines parse
    identically (0.1 is the literal weight, not a runtime 1-p).

    Output per probe: probe_id, o1, o2, o3, rbo — ordered by probe_id.
    """
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = sim_ops.cosine_topk(e, probes, k=3).select(
        F.col("probe_id").alias("__jp"),
        F.col("neighbor_id").alias("__jn"),
        F.col("rank").alias("__re"),
    )
    run = sim_ops.ivf_topk(
        e, probes, ivf_centroids(e), k=3, nprobe=2
    ).select(
        F.col("probe_id").alias("__p"),
        F.col("neighbor_id").alias("__n"),
        F.col("rank").alias("__ra"),
    )
    j = run.join(
        exact,
        (run["__p"] == exact["__jp"]) & (run["__n"] == exact["__jn"]),
        "inner",
    )
    per = (
        probes.select("probe_id")
        .join(
            j.groupBy("__p").agg(
                *[
                    F.sum(
                        F.when(
                            (F.col("__re") <= i) & (F.col("__ra") <= i), 1
                        ).otherwise(0)
                    ).alias(f"o{i}")
                    for i in (1, 2, 3)
                ]
            ),
            probes["probe_id"] == F.col("__p"),
            "left",
        )
        .select(
            "probe_id",
            *[F.coalesce(f"o{i}", F.lit(0)).alias(f"o{i}") for i in (1, 2, 3)],
        )
    )
    rbo = F.lit(0.1) * (
        F.col("o1").cast("double") / F.lit(1.0)
        + F.lit(0.9) * F.col("o2").cast("double") / F.lit(2.0)
        + F.lit(0.81) * F.col("o3").cast("double") / F.lit(3.0)
    )
    return per.select(
        "probe_id", "o1", "o2", "o3", rbo.alias("rbo")
    ).orderBy("probe_id")


def _rbo_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_cosine_topk / q_ann_ivf oracle SQL into
    the RBO replay."""
    return f"""
WITH exact AS (
  SELECT probe_id, neighbor_id, rank FROM ({ORACLES["q_cosine_topk"]})
  WHERE probe_id < 5 AND rank <= 3
),
run AS (
  SELECT probe_id, neighbor_id, rank FROM ({ORACLES["q_ann_ivf"]})
),
j AS (
  SELECT run.probe_id, exact.rank AS re, run.rank AS ra
  FROM run JOIN exact
    ON run.probe_id = exact.probe_id
   AND run.neighbor_id = exact.neighbor_id
),
agg AS (
  SELECT probe_id,
    sum(CASE WHEN re <= 1 AND ra <= 1 THEN 1 ELSE 0 END) AS o1,
    sum(CASE WHEN re <= 2 AND ra <= 2 THEN 1 ELSE 0 END) AS o2,
    sum(CASE WHEN re <= 3 AND ra <= 3 THEN 1 ELSE 0 END) AS o3
  FROM j GROUP BY probe_id
),
probes AS (SELECT DISTINCT probe_id FROM exact)
SELECT probes.probe_id,
  CAST(coalesce(o1, 0) AS BIGINT) AS o1,
  CAST(coalesce(o2, 0) AS BIGINT) AS o2,
  CAST(coalesce(o3, 0) AS BIGINT) AS o3,
  0.1 * (CAST(coalesce(o1, 0) AS DOUBLE) / 1.0
         + 0.9 * CAST(coalesce(o2, 0) AS DOUBLE) / 2.0
         + 0.81 * CAST(coalesce(o3, 0) AS DOUBLE) / 3.0) AS rbo
FROM probes LEFT JOIN agg ON probes.probe_id = agg.probe_id
ORDER BY probes.probe_id
"""


def q_dup_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted exact-duplicate share per source — the curation
    metric the doc-level q_dup_rate_by_source understates: a source
    whose few duplicated docs are its LONGEST ones wastes far more
    training tokens than its doc-level dup rate suggests.  Dup status
    is corpus-wide (normalized sha256 hash count > 1), grouped by
    source; token counts are the whitespace tokenizer's exact ints;
    the share is ONE division.

    Output per source: source, n_docs, n_dup_docs, tokens_total,
    tokens_dup, dup_token_share — ordered by source.
    """
    from npm_mirror_spark.operators.dedup import text_hash
    from npm_mirror_spark.operators.text import ws_token_count

    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "source",
        text_hash("text").alias("__h"),
        ws_token_count("text").cast("long").alias("__ntok"),
    )
    counts = d.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    j = d.join(counts, "__h")
    dup = F.col("__cnt") > 1
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_docs"),
        F.sum("__ntok").alias("tokens_total"),
        F.sum(F.when(dup, F.col("__ntok")).otherwise(0)).alias(
            "tokens_dup"
        ),
    )
    return per.select(
        "source",
        "n_docs",
        "n_dup_docs",
        "tokens_total",
        "tokens_dup",
        F.when(
            F.col("tokens_total") > 0,
            F.col("tokens_dup").cast("double")
            / F.col("tokens_total").cast("double"),
        ).alias("dup_token_share"),
    ).orderBy("source")


# Replay with the registry's shared normalization.
_DUP_TOKEN_SHARE_SQL = f"""
WITH d AS (
  SELECT source, sha256({NORM}) AS h,
    CAST(len(str_split({NORM}, ' ')) AS BIGINT) AS ntok
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
c AS (SELECT h, count(*) AS cnt FROM d GROUP BY h),
j AS (SELECT d.source, d.ntok, c.cnt FROM d JOIN c ON d.h = c.h)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
  CAST(sum(ntok) AS BIGINT) AS tokens_total,
  CAST(sum(CASE WHEN cnt > 1 THEN ntok ELSE 0 END) AS BIGINT)
    AS tokens_dup,
  CASE WHEN sum(ntok) > 0
       THEN CAST(sum(CASE WHEN cnt > 1 THEN ntok ELSE 0 END) AS DOUBLE)
            / CAST(sum(ntok) AS DOUBLE)
       END AS dup_token_share
FROM j GROUP BY source
ORDER BY source
"""


def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation cells (operators/classifier.py:mcc_cells)
    for the q_classifier_eval scorer (doc length >= 500 chars) against
    the keyword label — the balanced single-number verdict the
    confusion counts + AUC face stops short of.  MCC needs a sqrt, so
    the face emits the SIGNED SQUARE (num*|num|/den_sq, one division
    on exact-integer cells); |mcc| = sqrt(|mcc_signed_sq|) is the
    consumer one-liner."""
    from npm_mirror_spark.operators.classifier import mcc_cells

    d = _t(spark, sf_dir, "documents")
    return mcc_cells(
        d,
        F.col("text").contains("spark"),
        F.col("n_chars") >= 500,
    )


_MCC_SQL = """
WITH s AS (
  SELECT (text LIKE '%spark%') AS l, (n_chars >= 500) AS p
  FROM documents),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN l AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN NOT l AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN NOT l AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
      AS tn,
    CAST(sum(CASE WHEN l AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM s),
m AS (
  SELECT n_rows, tp, fp, tn, fn,
    CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
         - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT) AS DOUBLE)
      AS mcc_num,
    CAST(CAST(tp + fp AS HUGEINT) * CAST(tp + fn AS HUGEINT)
         * CAST(tn + fp AS HUGEINT) * CAST(tn + fn AS HUGEINT)
         AS DOUBLE) AS mcc_den_sq
  FROM c)
SELECT n_rows, tp, fp, tn, fn, mcc_num, mcc_den_sq,
  CASE WHEN mcc_den_sq > 0
    THEN (mcc_num * abs(mcc_num)) / mcc_den_sq END AS mcc_signed_sq
FROM m
"""


def q_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table (operators/classifier.py:
    lift_gains_cells) for the q_classifier_eval fixture (n_chars
    score, keyword label) — the targeting verdict beside the
    threshold confusion counts, the rank AUC and the reliability
    bins: acting on the top score decile, how many times the base
    rate do we capture?  Tie-safe integer bucketing off the
    descending bucketed prefix; every report column one division."""
    from npm_mirror_spark.operators.classifier import lift_gains_cells

    d = _t(spark, sf_dir, "documents")
    return lift_gains_cells(
        d, "n_chars", F.col("text").contains("spark"), k=10
    )


_LIFT_GAINS_SQL = """
WITH vals AS (
  SELECT n_chars AS x, count(*) AS c,
         sum(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS p
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
pri AS (
  SELECT x, c, p,
    coalesce(sum(c) OVER (ORDER BY x DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS prior
  FROM vals),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS pp
  FROM vals),
b AS (
  SELECT CAST(prior * 10 AS BIGINT) // n AS bk, c, p, n, pp
  FROM pri CROSS JOIN tot),
gb AS (
  SELECT bk, CAST(sum(c) AS BIGINT) AS n_d,
         CAST(sum(p) AS BIGINT) AS pos_d,
         CAST(max(n) AS BIGINT) AS n_total,
         CAST(max(pp) AS BIGINT) AS pos_total
  FROM b GROUP BY 1),
cm AS (
  SELECT bk, n_d, pos_d,
    CAST(sum(n_d) OVER (ORDER BY bk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_n,
    CAST(sum(pos_d) OVER (ORDER BY bk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_pos,
    n_total, pos_total
  FROM gb)
SELECT bk AS bucket, n_d, pos_d, cum_n, cum_pos, n_total, pos_total,
  CASE WHEN pos_total > 0 AND n_d > 0
    THEN (CAST(pos_d AS DOUBLE) * CAST(n_total AS DOUBLE))
         / (CAST(n_d AS DOUBLE) * CAST(pos_total AS DOUBLE)) END
    AS lift,
  CASE WHEN pos_total > 0
    THEN CAST(cum_pos AS DOUBLE) / CAST(pos_total AS DOUBLE) END
    AS gain,
  CAST(cum_n AS DOUBLE) / CAST(n_total AS DOUBLE) AS depth
FROM cm ORDER BY bucket
"""


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


# q_url_canon: the canonicalization regex chain replayed step-for-step
# (DuckDB RE2: 'g' flag for replace-all, \\1 backrefs; patterns are the
# Java/RE2 common subset by construction — no lookaround).
_DUCK_MESSY_URL = _MESSY_URL.replace("AS STRING", "AS VARCHAR").replace(
    "AS INT", "AS INTEGER"
)


_TRK = "(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src)"


def _norm_of(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _grams5_of() -> str:
    return (
        "CASE WHEN len(w) >= 5 THEN list_transform("
        "generate_series(1, len(w)-4), "
        "i -> array_to_string(list_slice(w, i, i+4), ' ')) "
        "ELSE [t] END"
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


def q_text_stats(spark, sf_dir):
    """Corpus stats per language — exact integer sums, derived average."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.text_stats_by(d, "text", "lang")


_TEXT_STATS_SQL = f"""
WITH w AS (SELECT lang, text, str_split({NORM}, ' ') AS toks FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
       CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avg_tokens
FROM w GROUP BY lang
"""


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


# q_cut_contaminated: the cut_dup_spans island/rebuild replay with the
# cut condition swapped to bench-vocabulary membership.
_CUT_CONTAMINATED_SQL = f"""
WITH {shingles_sql("documents", 5).replace("sh AS", "g0 AS")},
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


# q_line_filter: the line rules replayed with DuckDB list_filter.
_LINE_FILTER_SQL = """
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


# q_lang_margin: the same per-language stopword counts as q_lang_id,
# plus a sorted-array top-2 margin — exact integers end to end.
_LANG_MARGIN_SQL = f"""
WITH w AS (SELECT doc_id, str_split({NORM}, ' ') AS toks FROM documents),
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


# q_release_cut: the whole cut-mode release pipeline replayed as one
# composition — gopher gate (nested q_gopher_rules oracle), the
# q_cut_contaminated island/rebuild machinery over the GATED corpus,
# the rewrite + empty-drop + seam-collision re-gate of
# release.py:cut_decontaminate, then the q_token_budget prefix over
# post-surgery whitespace tokens (seed 2, budget 3000).
_RELEASE_CUT_SQL = f"""
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
def _release_cut_oracle(ORACLES: dict[str, str]) -> str:
    return _RELEASE_CUT_SQL.format(gopher=ORACLES["q_gopher_rules"])


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


_ZORDER_SQL = _zorder_oracle_sql()


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


# q_temperature_sample: the q_temperature_mix weight chain (9-decimal
# clamp on the order-dependent float sum), then the identical
# least/floor threshold arithmetic and Knuth bucket filter.
_TEMPERATURE_SAMPLE_SQL = """
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


# q_calibration: equi-width score bins from the 1-row min/max frame,
# exact per-bin counts, decimal score sums, one IEEE division per
# output column — the q_classifier_eval fixture, binned.
_CALIBRATION_SQL = """
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


_TEMPERATURE_MIX_SQL = """
WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
s AS (SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS share
      FROM c),
t AS (SELECT source, n_docs, share, sqrt(share) AS sc FROM s)
SELECT source, n_docs, share,
       round(sc / sum(sc) OVER (), 9) AS temp_weight
FROM t
"""


def q_lm_nll(spark, sf_dir):
    """Unigram-LM perplexity quality scoring (CCNet-style signal):
    per-doc mean negative log-likelihood + perplexity under an add-1
    unigram LM trained on the corpus itself (self-perplexity flags
    outliers). Rows-only by nature — ln/exp are libm, not IEEE-exact,
    so no cross-engine oracle exists (operators/text.py::unigram_nll
    docstring); value semantics are pinned against a pure-Python
    reference in tests/test_lm.py."""
    return text_ops.unigram_nll(_t(spark, sf_dir, "documents"))


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


# q_url_filter: the oracle derives the keep-set INDEPENDENTLY — the
# blocklist names registrable domains (srcN.example.com), the synthetic
# hosts are docs.<source>.example.com, so suffix matching must reduce to
# the source predicate below; value equality proves the suffix algebra.
_URL_FILTER_SQL = """
SELECT doc_id,
       'https://docs.' || source || '.example.com/' || CAST(doc_id AS VARCHAR)
         AS url,
       'docs.' || source || '.example.com' AS host
FROM documents
WHERE source NOT IN ('src1', 'src3')
"""


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


# q_embed_text: the oracle recomputes the hashing-trick embedding
# relationally — one md5 per token occurrence, sign = parity of byte d
# of the digest, exact integer sums per (doc, dim).
_EMBED_TEXT_SQL = f"""
WITH w AS (
  SELECT doc_id, unnest(str_split({NORM}, ' ')) AS tok FROM documents),
s AS (
  SELECT w.doc_id, d.d AS pos,
         CASE WHEN ('0x' || substr(md5(w.tok), d.d * 2 + 1, 2))::INTEGER % 2 = 1
              THEN 1 ELSE -1 END AS sgn
  FROM w CROSS JOIN generate_series(0, 15) d(d))
SELECT doc_id, pos, CAST(sum(sgn) AS INTEGER) AS val
FROM s GROUP BY doc_id, pos
"""


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


# q_vocab_growth: first-occurrence bucketing + running sum, replayed
# relationally (same normalization as the Spark tokenizer).
_VOCAB_GROWTH_SQL = f"""
WITH w AS (
  SELECT doc_id, unnest(str_split({NORM}, ' ')) AS tok FROM documents),
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


# q_corpus_report: wraps the q_gopher_rules oracle (nested WITH in a CTE
# body) and aggregates; n_unique_texts is derived INDEPENDENTLY from
# distinct normalized text (Spark counts distinct sha2 digests of the
# same normalization — equal iff normalization parity holds).
def _corpus_report_oracle(ORACLES: dict[str, str]) -> str:
    return f"""
WITH goph AS ({ORACLES["q_gopher_rules"]})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(g.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT {NORM}) AS BIGINT) AS n_unique_texts,
       CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher_pass
FROM documents d JOIN goph g USING (doc_id)
"""


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


# q_classifier_eval: the oracle replays the grouped-rank AUC algebra —
# per distinct score (cnt, pos), running cnt_less, doubled average rank
# per positive; all integers, one exact division at the end.
_CLASSIFIER_EVAL_SQL = """
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


# q_pr_curve: cumulative descending-threshold confusion, replayed
# relationally on the same integer scorer.
_PR_CURVE_SQL = """
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


# q_contamination_report: per-benchmark-item 5-gram coverage against the
# corpus vocabulary — mirrors curation.py:contamination_report exactly
# (distinct (item, gram) pairs; corpus-hit grams bounded by the bench
# vocabulary; coverage = matched/total).
_CONTAMINATION_REPORT_SQL = f"""
WITH {shingles_sql("documents", 5)},
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


# q_epoch_shuffle: seeded md5 rank -> shard + intra-shard position;
# identical hash arithmetic (first 15 md5 hex chars as int64, epoch 3,
# 8 shards) so the permutation replays bit-for-bit.
_EPOCH_SHUFFLE_SQL = """
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


_URL_CANON_SQL = f"""
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


# q_split_assign / q_token_budget: md5 bucket arithmetic replayed exactly
# (same 15-hex-char int64 base as epoch_shuffle).
_SPLIT_ASSIGN_SQL = """
WITH k AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
  FROM documents)
SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM k GROUP BY 1
"""


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


_TOKEN_BUDGET_SQL = f"""
WITH t AS (SELECT doc_id, source, len(str_split({NORM}, ' ')) AS n_tokens FROM documents
           WHERE len(str_split({NORM}, ' ')) <= 3000),
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


_QUALITY_PERCENTILE_FILTER_SQL = f"""
WITH w AS (SELECT doc_id, str_split({NORM}, ' ') AS toks FROM documents),
f AS (SELECT doc_id,
        CAST(len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
          / len(toks) AS stopword_ratio
      FROM w),
p AS (SELECT quantile_cont(stopword_ratio, 0.25) AS p25 FROM f)
SELECT doc_id, stopword_ratio FROM f, p WHERE stopword_ratio >= p25
"""


def q_cap_per_source(spark, sf_dir):
    """Deterministic exact-k cap per source: at most 25 docs per source,
    chosen by Knuth-hash order — the seed-free reservoir-sample analog a
    training mix uses to bound any one source's contribution
    (operators/curation.py:cap_per_group). One shuffle on the source key;
    WindowGroupLimit prunes per-partition before the exchange."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cur_ops.cap_per_group(d, "source", "doc_id", 25)


_CAP_PER_SOURCE_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648,
                    doc_id) AS rk
  FROM documents)
SELECT doc_id, source FROM r WHERE rk <= 25
"""


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


_SOURCE_OVERLAP_SQL = f"""
WITH docs AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, 'mirror' FROM documents WHERE doc_id % 7 = 0),
fp AS (
  SELECT DISTINCT
    md5(array_to_string(list_sort(list_distinct(str_split({NORM}, ' '))), ' ')) AS fp,
    source
  FROM docs)
SELECT a.source AS source_a, b.source AS source_b,
       count(DISTINCT a.fp) AS n_shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
"""


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


_DOC_RARITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split({NORM}, ' ')) AS term FROM documents),
tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1),
rk AS (SELECT term, row_number() OVER (ORDER BY freq DESC, term ASC) AS "rank" FROM tf)
SELECT tok.doc_id, count(*) AS n_tokens,
       CAST(sum("rank") AS DOUBLE) / count(*) AS avg_rank
FROM tok JOIN rk ON tok.term = rk.term
GROUP BY 1
"""


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


_PACK_BLOCKS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(str_split({NORM}, ' ')) AS INTEGER) AS n_tokens
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
"""


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


_LENGTH_HISTOGRAM_SQL = f"""
WITH toks AS (
  SELECT source,
         CAST(len(str_split({NORM}, ' ')) AS INTEGER) AS n_tokens
  FROM documents)
SELECT source, CAST(floor(n_tokens / 50.0) AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM toks GROUP BY 1, 2
"""


def q_chunk_tokens(spark, sf_dir):
    """Sliding-window chunking (size 64, stride 48): the document ->
    embedding-input explosion, every token covered, last chunk short
    (operators/text.py:chunk_tokens)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.chunk_tokens(d, "text", "doc_id", size=64, stride=48)


_CHUNK_TOKENS_SQL = f"""
WITH w AS (SELECT doc_id, str_split({NORM}, ' ') AS w FROM documents),
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
"""


def q_compress_ratio(spark, sf_dir):
    """Deflate-compressibility per document (repetition/boilerplate
    signal). Arrow pandas UDF over stdlib zlib — deterministic but not
    SQL-expressible, so rows-only driver check; determinism across runs
    is pinned by tests/test_curation.py."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.compression_ratio(d, "text").select("doc_id", "zratio")


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


_GOPHER_RULES_SQL = f"""
WITH {SHINGLES.format(src="documents")},
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
"""


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


_DECONTAMINATE_SQL = f"""
WITH {shingles_sql("documents", 5)},
bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 0),
corp AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 0),
hits AS (SELECT corp.doc_id, count(DISTINCT corp.shingle) AS n_hits
         FROM corp JOIN bench USING (shingle) GROUP BY corp.doc_id)
SELECT s.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
WHERE s.doc_id % 20 <> 0
"""


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


_REDACT_PII_SQL = """
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
"""


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


_PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(str_split({NORM}, ' ')) AS INTEGER) AS n_tokens
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
"""


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


_HEAVY_HITTERS_SQL = f"""
SELECT term, tf FROM (
  SELECT t.term, count(*) AS tf
  FROM (SELECT unnest(str_split({NORM}, ' ')) AS term FROM documents) t
  GROUP BY t.term)
ORDER BY tf DESC, term ASC
LIMIT 20
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-source keep rates applied by
    thresholding a multiplicative id hash — reproducible across engines
    and re-runs, zero shuffle (operators/curation.py:stratified_sample)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    rates = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
    return cur_ops.stratified_sample(d, "source", rates, "doc_id", 0.05)


_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, source FROM documents
WHERE ((doc_id % 2147483648) * 2654435761) % 1000 <
  CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 500
              WHEN 'src2' THEN 250 ELSE 50 END
"""


def q_quality_score(spark, sf_dir):
    """Per-doc quality features: token counts, mean token length, stopword
    and punctuation ratios."""
    d = _t(spark, sf_dir, "documents")
    feats = text_ops.quality_features(d, "text")
    return feats.select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "punct_ratio"
    )


_QUALITY_SCORE_SQL = f"""
WITH w AS (SELECT doc_id, text, str_split({NORM}, ' ') AS toks FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         / len(toks) AS mean_token_len,
       CAST(len(list_filter(toks, x -> list_contains(
            ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
         / length(text) AS punct_ratio
FROM w
"""


def q_lang_id(spark, sf_dir):
    """Heuristic stopword-scoring language ID with deterministic tiebreak."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.language_id("text").alias("lang_guess"))


_LANG_ID_SQL = f"""
WITH w AS (SELECT doc_id, str_split({NORM}, ' ') AS toks FROM documents),
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
"""


def q_token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_ops.ws_token_count("text").alias("ws_tokens"),
        text_ops.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


_TOKEN_COUNT_SQL = f"""
SELECT doc_id, len(str_split({NORM}, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    """Order-insensitive token-set fingerprint per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.fingerprint("text").alias("fp"))


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(str_split({NORM}, ' '))), ' ')) AS fp
FROM documents
"""


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


_QUALITY_FILTER_SQL = f"""
WITH w AS (SELECT lang, source, str_split({NORM}, ' ') AS toks FROM documents),
f AS (SELECT lang, source, len(toks) AS n_tokens,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
          AS mean_token_len
      FROM w)
SELECT lang, source, count(*) AS n_kept
FROM f
WHERE n_tokens >= 10 AND n_tokens <= 1000
  AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
GROUP BY lang, source
"""


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


_TF_DF_SQL = f"""
SELECT t.term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(str_split({NORM}, ' ')) AS term FROM documents) t
GROUP BY t.term
"""


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


# q_token_drift: the exact-rational TV distance replayed in HUGEINT —
# present-token |c*T - C*Ts| sum plus the absent-mass fold
# (T - presC)*Ts, one IEEE division per source.
_TOKEN_DRIFT_SQL = f"""
WITH w AS (
  SELECT source, unnest(str_split({NORM}, ' ')) AS tok FROM documents),
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


# q_luhn_scan: digit runs, 16-length filter and the Luhn fold replayed
# as the identical list_transform/list_sum arithmetic.
_LUHN_SCAN_SQL = """
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


# q_dedup_lines: the keep-first lambda replayed — DuckDB's list_filter
# index is 1-based, so predecessors are list_slice(lines, 1, i-1)
# where Spark's 0-based index uses slice(lines, 1, i).
_DEDUP_LINES_SQL = """
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


# q_quantile_norm: mid-rank normalization replayed — distinct-value
# counts, strictly-prior cumulative window, integer numerator, one
# division per row.
_QUANTILE_NORM_SQL = """
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


# q_winsorized_mean: exact rank-statistic bounds off the distinct-value
# collapse, clip, decimal-exact fold, one division per source.
_WINSORIZED_MEAN_SQL = """
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


# q_collocations: bigrams by 1-based lateral generate_series over the
# token array, lift as exact-int double casts — identical op tree.
_COLLOCATIONS_SQL = f"""
WITH t AS (SELECT str_split({NORM}, ' ') AS toks FROM documents),
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


# q_systematic_sample: cumulative-weight walk replayed with a plain
# window (strictly-prior sum), same integer boundary-crossing test.
_SYSTEMATIC_SAMPLE_SQL = """
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


# q_lexical_diversity: the shingle-family normalization replayed, then
# per-source type/token/hapax counting.
_LEXICAL_DIVERSITY_SQL = f"""
WITH w AS (
  SELECT source, unnest(str_split({NORM}, ' ')) AS tok FROM documents),
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
    return nodec(gini_best_split(d, "n_chars", F.col("lang") == "en"))


# q_gini_split: inclusive cumulative class counts on the value axis,
# exact HUGEINT Gini numerators (VARCHAR-routed), argmin by
# (cost, threshold) — the struct-min replay.
_GINI_SPLIT_SQL = """
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
