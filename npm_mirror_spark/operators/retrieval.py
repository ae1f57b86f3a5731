"""Lexical ranked retrieval (BM25) over the documents table.

The missing lexical half of the retrieval stack (the vector half lives in
operators/similarity.py; faces.similarity.q_rrf_fusion fuses the two): given a small
set of query terms, score every matching document with BM25 and return the
top-k. This is the workhorse for corpus search, hard-negative mining, and
the keyword arm of hybrid retrieval over a training corpus.

The 100 TB shape:

- the term filter runs ON the exploded token stream, before any shuffle —
  at scale the surviving rows are posting-list-sized, not corpus-sized;
- per-(doc, term) term frequencies carry the doc length through the
  aggregation (``max(dl)``, constant per doc), so no join back to the
  corpus is ever needed;
- document frequencies and the corpus length stats are aggregate-tiny and
  enter the plan as broadcast joins;
- the final top-k is ``orderBy().limit(k)`` — Spark's
  TakeOrderedAndProject, a per-partition partial top-k merged on the
  driver, NOT a global sort of the candidate set.

Determinism (the driver hash-compares against DuckDB): the registered
``idf="rational"`` face uses the log-free Robertson idf argument
``(N - df + 0.5) / (df + 0.5)`` so every per-term weight is built purely
from IEEE +,-,*,/ on identical operands (bit-identical across engines —
the repo-wide no-libm rule, see the faces/__init__.py module docstring), then
integer-scales each weight with ``floor(w * 1e6)`` so the per-doc SUM is
an order-free bigint. The standard Lucene ``ln(1 + rational)`` face is
order-equivalent per term but NOT cross-engine bit-stable (ln differs by
ulps between libms), so it is exposed for real use and cross-validated
against a pure-Python reference in tests/test_retrieval.py instead of the
DuckDB oracle. Note the two faces can rank differently on multi-term
sums; the registered claim is the rational face.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from npm_mirror_spark.operators.text import ws_token_count, ws_tokens

SCALE = 1_000_000


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "rational",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 for one query (a small term set).

    Returns (doc_id, n_terms, score_scaled, score, rank) where
    ``score_scaled`` is the order-free bigint sum of
    ``floor(per_term_weight * 1e6)`` and ``score`` is its exact /1e6
    double face. ``idf="lucene"`` swaps in ``ln(1 + rational_idf)``
    (production semantics, pytest-validated; not oracle-stable).
    """
    if idf not in ("rational", "lucene"):
        raise ValueError(f"unknown idf variant: {idf!r}")

    with_dl = docs.select(
        F.col(id_col), F.col(text_col), ws_token_count(text_col).alias("dl")
    )
    stats = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    tok = with_dl.select(
        id_col, "dl", F.explode(ws_tokens(text_col)).alias("term")
    ).filter(F.col("term").isin(terms))
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # expression order mirrors the oracle SQL text exactly — every op is
    # IEEE-exact, so identical operand order => bit-identical doubles
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    rational = (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    idf_expr = F.log(F.lit(1.0) + rational) if idf == "lucene" else rational
    tfn = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    )
    weighted = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.floor(idf_expr * tfn * F.lit(float(SCALE))).alias("w_scaled"),
        )
    )
    scored = weighted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("w_scaled").alias("score_scaled"),
    )
    top = scored.orderBy(F.desc("score_scaled"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score_scaled"), F.asc(id_col))
    return top.select(
        id_col,
        "n_terms",
        "score_scaled",
        (F.col("score_scaled").cast("double") / F.lit(float(SCALE))).alias("score"),
        F.row_number().over(w).alias("rank"),
    )
