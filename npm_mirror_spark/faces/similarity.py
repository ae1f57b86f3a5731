"""Faces built on the near-duplicate and nearest-neighbour operators
(``dedup``, ``similarity``, ``retrieval``, ``linkage``): exact, MinHash,
SimHash and semantic dedup, exact and approximate top-k search, each next
to its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from npm_mirror_spark.faces import (
    DOCS_WITH_DUPS,
    MINHASH_EDGES,
    NORM,
    SHINGLES,
    banded_pairs,
    docs_with_dups,
    ivf_centroids,
    shingles_sql,
)
from npm_mirror_spark.operators import curation as cur_ops
from npm_mirror_spark.operators import dedup as dedup_ops
from npm_mirror_spark.operators import retrieval as ret_ops
from npm_mirror_spark.operators import similarity as sim_ops
from npm_mirror_spark.tables import load_table as _t


_EMB_NORMED = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v,
  sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM e)
"""


_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
)


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


# Shared BM25 scoring pipeline (rational idf, integer-scaled weights —
# operators/retrieval.py has the determinism argument). Ends at the
# per-doc `sc` CTE so q_bm25 and q_hybrid_search stay one definition.
_BM25_CORE = f"""
WITH d AS (SELECT doc_id, str_split({NORM}, ' ') AS toks FROM documents),
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


def q_dedup_exact(spark, sf_dir):
    """Exact dedup under redelivery: re-deliver every 10th event, then
    dropDuplicates — the seq-keyed dedup upgrade over the reference's
    duplicate-happy sink (changes_consumer.py:325)."""
    ev = _t(spark, sf_dir, "events")
    redelivered = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    return dedup_ops.dedup_exact(redelivered, ["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


_DEDUP_EXACT_SQL = (
    "SELECT DISTINCT event_id, ts, user_id, event_type, value, props FROM "
    "(SELECT * FROM events UNION ALL SELECT * FROM events WHERE event_id % 10 = 0)"
)


def q_dedup_norm(spark, sf_dir):
    """Normalized-text dedup: sha2(canonical text) grouping; shuffle moves
    64-hex keys, not document bodies."""
    return dedup_ops.dedup_normalized(docs_with_dups(spark, sf_dir), "text", "doc_id")


_DEDUP_NORM_SQL = f"""
WITH {DOCS_WITH_DUPS}
SELECT sha256({NORM}) AS text_hash, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM docs2 GROUP BY 1
"""


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates (shingle -> 8 minhashes -> 4 bands
    -> bucket join) over the dup-injected corpus."""
    return dedup_ops.minhash_candidate_pairs(
        docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    )


_MINHASH_PAIRS_SQL = f"""
WITH {MINHASH_EDGES}
SELECT id_a, id_b FROM edges
"""


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


_COSINE_TOPK_SQL = f"""
WITH {_EMB_NORMED},
p AS (SELECT vec_id AS probe_id, v AS pv, nm AS pn FROM n WHERE vec_id < 10),
s AS (
  SELECT p.probe_id, c.vec_id AS neighbor_id,
         {_DOT.format(a="c.v", b="p.pv")} / (c.nm * p.pn) AS cos_sim
  FROM n c CROSS JOIN p WHERE c.vec_id != p.probe_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank" FROM s)
SELECT probe_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
"""


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


# q_containment: shingle-set containment replayed over the dup-injected
# lineage pairs (trigram CTE shared with the jaccard family).
_CONTAINMENT_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000, text || ' zzzextra' FROM documents WHERE doc_id % 11 = 0),
{SHINGLES.format(src="base")},
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


# q_record_linkage: the blocked Fellegi–Sunter score replayed — nation
# blocking, levenshtein on the name numbers, balance proximity, integer
# weights, best-per-supplier argmax with the custkey tiebreak.
_RECORD_LINKAGE_SQL = """
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
        docs_with_dups(spark, sf_dir), "text", "doc_id",
        threshold=0.5, shingle_n=3,
    ).orderBy("id_a", "id_b")


# q_jaccard_exact: first-principles ground truth for the AllPairs
# prefix-filter join — full co-shingle intersection counts over the
# dup-injected corpus, one IEEE division per surviving pair. That the
# prefix-filtered Spark plan hash-matches this is the losslessness
# proof at oracle grade.
_JACCARD_EXACT_SQL = f"""
WITH {DOCS_WITH_DUPS},
{SHINGLES.format(src="docs2")},
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


def q_dup_ngram_fraction(spark, sf_dir):
    """Per-doc duplicate n-gram fraction: the share of each document's
    DISTINCT trigram shingles that appear in >= 2 documents — the
    corpus-memorization diagnostic behind substring-dedup decisions
    (operators/dedup.py:dup_ngram_fraction). Shingles ride the shuffle
    as xxhash64 longs; the oracle groups on the raw shingle string, so
    parity also certifies collision-freeness on this corpus."""
    return dedup_ops.dup_ngram_fraction(_t(spark, sf_dir, "documents"))


_DUP_NGRAM_FRACTION_SQL = f"""
WITH {SHINGLES.format(src="documents")},
ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
c AS (SELECT s, count(*) AS nd FROM ex GROUP BY s)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS dup_frac
FROM ex JOIN c USING (s)
GROUP BY doc_id
"""


def q_dup_spans(spark, sf_dir):
    """Maximal duplicated-span extraction (exact-substring-dedup signal,
    Lee et al. 2021 re-expressed Spark-first): positions covered by a
    4-gram that appears in >= 2 documents merge into maximal spans via
    a per-document gaps-and-islands window; output is the per-doc span
    inventory (operators/dedup.py:dup_spans) — the evidence a curation
    pass cuts spans by. Gram carriers shuffle as xxhash64 longs; the
    oracle replays the identical island algebra on raw gram strings."""
    return dedup_ops.dup_spans(_t(spark, sf_dir, "documents"), l=4)


_DUP_SPANS_SQL = f"""
WITH {shingles_sql("documents", 4).replace("sh AS", "g0 AS")},
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
alld AS (SELECT doc_id, len(str_split({NORM}, ' ')) AS n_tokens
         FROM documents)
SELECT a.doc_id, a.n_tokens,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       coalesce(p.dup_tokens, 0) AS dup_tokens,
       coalesce(p.max_span_tokens, 0) AS max_span_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / a.n_tokens AS dup_frac
FROM alld a LEFT JOIN pd p ON a.doc_id = p.doc_id AND a.n_tokens = p.n_tokens
"""


def q_cut_dup_spans(spark, sf_dir):
    """Span-cut curation (the removal half of q_dup_spans): rebuild each
    document with its duplicated spans deleted, keeping the FIRST
    carrier (lowest doc_id) of every duplicated substring — exactly one
    copy survives corpus-wide (operators/dedup.py:cut_dup_spans). The
    rebuild is one in-row higher-order filter after a doc-id equi join
    to the doc's own cut ranges; the oracle rebuilds via an ordered
    string_agg over range-anti-joined token positions."""
    return dedup_ops.cut_dup_spans(_t(spark, sf_dir, "documents"), l=4)


_CUT_DUP_SPANS_SQL = f"""
WITH {shingles_sql("documents", 4).replace("sh AS", "g0 AS")},
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


_HYBRID_SEARCH_SQL = _BM25_CORE + f""",
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


def q_cluster_split(spark, sf_dir):
    """Leakage-free train/validation split: the split is decided by
    hashing the duplicate-CLUSTER label, not the document id, so
    near-duplicates can never straddle train and val (the classic eval
    contamination bug). ~90/10 via Knuth-hash threshold on the connected
    component representative; unpaired docs are their own cluster."""
    docs = docs_with_dups(spark, sf_dir)
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


_CLUSTER_SPLIT_SQL = f"""
WITH RECURSIVE {MINHASH_EDGES},
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


_KMEANS_SQL = _kmeans_oracle_sql(k=8, n_iter=3, dim=64)


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


# q_ann_ivf_trained: Lloyd CTEs -> trained centroids -> the identical
# IVF assign/search SQL as q_ann_ivf. Centroid doubles are q/2^24
# (power-of-two-scaled integers, bit-exact in both engines).
_ANN_IVF_TRAINED_SQL = f"""
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


# q_srp_pairs: the oracle replays the whole SRP pipeline — the identical
# md5-derived sign planes (md5('srp:<p>:<d>') first-byte parity, exactly
# operators/similarity.py::srp_signs), the 2^-24-quantized exact-integer
# plane dots (computed relationally — component x sign join + group-by,
# the fast shape for DuckDB; a nested-lambda literal matrix re-evaluates
# the 1024-entry literal per element and is ~1000x slower), the
# half-signature blocking, the Hamming gate, and the exact cosine verify.
_SRP_PAIRS_SQL = f"""
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


_BM25_SQL = _BM25_CORE + """
SELECT doc_id, n_terms, score_scaled,
       CAST(score_scaled AS DOUBLE) / 1000000.0 AS score,
       row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS "rank"
FROM sc ORDER BY score_scaled DESC, doc_id ASC LIMIT 20
"""


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
    docs = docs_with_dups(spark, sf_dir)
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


_MINHASH_RECALL_SQL = f"""
WITH {MINHASH_EDGES},
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


_DUP_RATE_BY_SOURCE_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, source FROM documents WHERE doc_id % 7 = 0),
h AS (SELECT source, sha256({NORM}) AS text_hash FROM corpus)
SELECT source, count(*) AS n_docs, count(DISTINCT text_hash) AS n_uniq,
       CAST(count(*) - count(DISTINCT text_hash) AS DOUBLE) / count(*) AS dup_rate
FROM h GROUP BY 1
"""


def q_dup_cluster_sizes(spark, sf_dir):
    """Dedup diagnostics: the duplicate-cluster size histogram (how many
    pairs, triples, ... of near-identical docs exist) — the number a
    corpus owner checks before deciding how aggressive dedup should be.
    Reuses the connected components of the MinHash pair graph."""
    docs = docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    comp = dedup_ops.connected_components(pairs)
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


_DUP_CLUSTER_SIZES_SQL = f"""
WITH RECURSIVE {MINHASH_EDGES},
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
"""


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


_RRF_FUSION_SQL = f"""
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
"""


def q_dedup_keepbest(spark, sf_dir):
    """Quality-aware keep-set: per duplicate cluster keep the LONGEST
    copy (ties -> lowest id) — here the '... zzzextra' variants beat
    their originals, which distinguishes this from q_dedup_keepset's
    min-id rule (operators/dedup.py:dedup_keepset_best)."""
    docs = docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    scored = docs.withColumn("__len", F.length("text"))
    return dedup_ops.dedup_keepset_best(
        scored, pairs, "__len"
    ).select("doc_id")


_DEDUP_KEEPBEST_SQL = f"""
WITH RECURSIVE {MINHASH_EDGES},
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
"""


def q_dedup_keepset(spark, sf_dir):
    """END-TO-END fuzzy dedup — the training-data terminal step: MinHash/
    LSH candidate pairs -> connected components (min-label propagation,
    operators/dedup.py:connected_components) -> one canonical min-id doc
    per duplicate cluster, unpaired docs passing through. Oracle computes
    the same components via a recursive reachability closure."""
    docs = docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    return dedup_ops.dedup_keepset(docs.select("doc_id"), pairs)


# pairs -> connected components (recursive reachability closure; the
# dup clusters are tiny so the closure is small) -> min-id keep-set
_DEDUP_KEEPSET_SQL = f"""
WITH RECURSIVE {MINHASH_EDGES},
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
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard verification over blocked pairs (same lang,
    id within 20) — the verify stage behind MinHash candidates. Pair join
    equi-keyed on (id-band, lang) via banded_pairs, not lang-only."""
    d = _t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("__lang_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("__lang_b"))
    pairs = banded_pairs(a, b, extra_keys=[("__lang_a", "__lang_b")]).select(
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


_NGRAM_JACCARD_SQL = f"""
WITH {SHINGLES.format(src="documents")},
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
"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via half-signature blocking (pigeonhole);
    oracle computes the identical 16-bit signatures with DuckDB bit ops."""
    return dedup_ops.simhash_pairs(
        docs_with_dups(spark, sf_dir), "doc_id", "text", max_hamming=3
    )


_SIMHASH_PAIRS_SQL = f"""
WITH {DOCS_WITH_DUPS},
w AS (SELECT doc_id, str_split({NORM}, ' ') AS toks FROM docs2),
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
"""


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


_COSINE_DUP_PAIRS_SQL = f"""
WITH {_EMB_NORMED}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) >= 0.4
"""


def q_ann_ivf(spark, sf_dir):
    """IVF ANN, oracle-checked end-to-end: deterministic centroids
    (vec_id%50==0), every corpus vector assigned to its max-cosine
    centroid, probes (vec_id<5) search only their 2 nearest clusters."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return sim_ops.ivf_topk(e, probes, ivf_centroids(e), k=3, nprobe=2)


_ANN_IVF_SQL = f"""
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
"""


def q_ivf_dup_pairs(spark, sf_dir):
    """Embedding near-dup pairs at scale: IVF-assign, then pair only
    WITHIN a cluster (equi join on cluster id — no all-pairs join).
    q_cosine_dup_pairs is the size-gated brute-force exactness baseline;
    this is the plan that survives 100 TB, and the cross-validation test
    characterizes exactly what the blocking trades away
    (intra-cluster-only recall)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim_ops.ivf_dup_pairs(e, ivf_centroids(e), threshold=0.4)


_IVF_DUP_PAIRS_SQL = f"""
WITH {_EMB_NORMED},
{_IVF_ASSIGNED}
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a="a.v", b="b.v")} / (a.nm * b.nm) AS cos_sim
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
WHERE cos_sim >= 0.4
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: IVF-cluster the embeddings, drop
    every vector that has a lower-id near-duplicate (cos >= 0.4) in its
    cluster, return the survivors. The 100 TB shape: intra-cluster
    pairing only, dropped-id set broadcast into a left-anti join
    (operators/similarity.py:semdedup)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim_ops.semdedup(e, ivf_centroids(e), threshold=0.4).select(
        "vec_id", "label"
    )


_SEMDEDUP_SQL = f"""
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
"""


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
    ann = sim_ops.ivf_topk(e, probes, ivf_centroids(e), k=3, nprobe=2).select(
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


# Composed oracle: ANN recall = exact top-k (restricted to the ANN's
# probes/k) semi-matched against the ANN result — both sides reuse the
# already-verified oracle texts verbatim as derived tables.
def _ann_recall_oracle(ORACLES: dict[str, str]) -> str:
    return f"""
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


# q_edit_join: the deletion-neighborhood join replayed — list_distinct
# deletion variants, equi-join on the variant key, levenshtein verify.
_EDIT_JOIN_SQL = """
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


# q_edit2_join: the oracle verifies by INDEPENDENT brute force — a full
# O(block^2) levenshtein join inside the blocking key (bounded: one
# nation), which is exactly what the FastSS neighborhood join must
# reproduce.  DuckDB's levenshtein matches Spark's (plain edit distance).
_EDIT2_JOIN_SQL = """
WITH c AS (
  SELECT c_custkey, c_name FROM customer WHERE c_nationkey = 7)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM c a JOIN c b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
ORDER BY id_a, id_b
"""


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/curation.py:
    leakage_safe_split): the dup-injected corpus's MinHash/LSH candidate
    pairs collapse to connected components, and the md5-mod 90/5/5
    assignment (q_split_assign's exact bucket arithmetic) keys on the
    CLUSTER label — near-duplicate documents can never straddle train
    and test, the contamination bug a per-doc split ships with.  Oracle
    replays the recursive reachability closure + the same hash."""
    docs = docs_with_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4
    )
    return cur_ops.leakage_safe_split(docs.select("doc_id"), pairs, seed=0)


# q_leakage_split: the q_dedup_keepset reachability closure, labels to
# every node (unpaired docs keep their own id), then the q_split_assign
# md5-mod arithmetic keyed on the CLUSTER label.
_LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE {MINHASH_EDGES},
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
