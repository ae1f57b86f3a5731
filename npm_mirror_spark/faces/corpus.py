"""Faces built on the corpus operators (``text``, ``dedup``, ``similarity``,
``layout``, ``classifier``): vocabulary, novelty, layout, retrieval-eval
and classifier-eval statistics, each next to its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.faces import NORM, Face
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
    from npm_mirror_spark.operators import similarity as sim_ops
    from npm_mirror_spark.queries import _ivf_centroids

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    tru = sim_ops.cosine_topk(e, probes, k=1).select(
        "probe_id", F.col("neighbor_id").alias("true_nn")
    )
    cand = sim_ops.ivf_topk(
        e, probes, _ivf_centroids(e), k=3, nprobe=2
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
    from npm_mirror_spark.operators import similarity as sim_ops
    from npm_mirror_spark.queries import _ivf_centroids

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
        e, probes, _ivf_centroids(e), k=3, nprobe=2
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
    from npm_mirror_spark.operators import similarity as sim_ops
    from npm_mirror_spark.queries import _ivf_centroids

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
        e, probes, _ivf_centroids(e), k=3, nprobe=2
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


#: (name, face, oracle, staged) — ``faces.ORDER`` sets the sequence.
FACES = (
    Face("q_vocab_coverage", q_vocab_coverage, _VOCAB_COVERAGE_SQL, False),
    Face("q_vocab_richness", q_vocab_richness, _VOCAB_RICHNESS_SQL, False),
    Face("q_hilbert_audit", q_hilbert_audit, _hilbert_oracle(), False),
    Face("q_mrr", q_mrr, _mrr_oracle, False),
    Face("q_ngram_novelty", q_ngram_novelty, _NGRAM_NOVELTY_SQL, False),
    Face("q_yule_k", q_yule_k, _YULE_SQL, False),
    Face("q_ndcg", q_ndcg, _ndcg_oracle, True),
    Face("q_rbo", q_rbo, _rbo_oracle, True),
    Face("q_dup_token_share", q_dup_token_share, _DUP_TOKEN_SHARE_SQL, True),
    Face("q_mcc", q_mcc, _MCC_SQL, True),
    Face("q_lift_gains", q_lift_gains, _LIFT_GAINS_SQL, True),
)
