"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``npm_mirror_spark``; this file is the thin
contract surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from npm_mirror_spark.faces.aggregates import q_mirror_record
from npm_mirror_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 13-field mirror-record
    projection (SURVEY.md §1.3/P1) over the driver's star schema — per
    customer, latest-order fields + counts + routed save path."""
    return q_mirror_record(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / FIXTURES.md §C."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query. Absent keys (rows-only check):
    q_approx_stats — approximate sketches have no exact oracle by nature;
    q_cosine_topk_arrow — the Arrow/BLAS kernel sums in SIMD order, so its
    floats differ in the last ulp from any SQL re-execution (its exact
    twin q_cosine_topk IS oracle-backed and result-equality between the
    two is pinned by pytest); q_compress_ratio — zlib is deterministic but
    not SQL-expressible (determinism pinned by pytest); q_lm_nll —
    unigram-LM perplexity needs libm ln/exp, which are not IEEE-exact
    across engines (value semantics cross-validated against a pure-Python
    reference in tests/test_lm.py); q_lm_bigram — same libm rationale as
    q_lm_nll, pure-Python parity at 1e-12 plus the word-order separation
    property in tests/test_lm.py; q_quality_classifier — iterative GD
    training: sigmoid is libm exp and float gradient sums shuffle-reduce
    in nondeterministic order, so trained weights reproduce only to
    tolerance (math pinned against an independent numpy GD twin in
    tests/test_classifier.py; contrast q_kmeans, whose exact-int
    arithmetic makes even ITERATIVE training oracle-backed);
    q_bpe_encode — learned-BPE tokenization is bit-deterministic (exact
    integer pair counts, lexicographic tie-breaks) but the merge loop is
    not expressible as one SQL query (Sennrich worked example,
    determinism, and decode round-trip pinned in
    tests/test_tokenizer.py). Every other
    registered query is oracle-backed (including the hash-heavy
    q_simhash_pairs and q_ann_ivf, whose oracles recompute the identical
    signatures with DuckDB bit ops)."""
    return dict(ORACLES)
