"""Vector similarity search over an embedding column (array<float>).

Two tiers, per the standard ANN playbook:

- brute-force cosine top-k: probes x corpus. Probes are broadcast (they are
  the small side by construction), so the corpus is scanned ONCE with no
  shuffle; top-k is a window per probe. This is the exactness baseline and
  is the right plan whenever |probes| x |corpus| fits compute budget.
- IVF (inverted-file) ANN: corpus is clustered to centroids once
  (one broadcast-join pass), then each probe searches only its ``nprobe``
  nearest clusters — at 100 TB this turns a full-corpus scan per probe into
  a ~(nprobe/K) fraction, and the cluster assignment doubles as a physical
  layout (write partitionBy(cluster) -> partition pruning on read).

All dot products run as ``zip_with``/``aggregate`` over double-cast arrays
— JVM higher-order functions, deterministic summation order (index order),
which keeps results bit-identical to the DuckDB oracle computing the same
expression. No Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sum-of-products in index order — deterministic across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _to_double(a), _to_double(b)
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def with_norm(df: DataFrame, vec_col: str, out: str = "__norm") -> DataFrame:
    """Precompute norms once — at scale you never recompute norms inside the
    join; they're a column of the corpus table."""
    return df.withColumn(out, l2_norm(_to_double(F.col(vec_col))))


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (excluding self-matches).

    Plan: broadcast(probes) x corpus -> single corpus scan, no shuffle for
    the join; one shuffle on probe_id for the per-probe top-k window.
    Returns (probe_id, neighbor_id, cos_sim, rank).
    """
    c = with_norm(corpus, vec_col, "__cn").select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cv"),
        "__cn",
    )
    p = with_norm(probes, vec_col, "__pn").select(
        F.col(probe_id_col),
        _to_double(F.col(vec_col)).alias("__pv"),
        "__pn",
    )
    scored = (
        c.join(F.broadcast(p), F.col("neighbor_id") != F.col(probe_id_col))
        .select(
            probe_id_col,
            "neighbor_id",
            (dot(F.col("__cv"), F.col("__pv")) / (F.col("__cn") * F.col("__pn"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    Brute-force all-pairs — the EXACTNESS BASELINE, and deliberately
    SIZE-GATED: the n^2/2 pair join is a scale-killer, so the operator
    counts the input and refuses anything above ``max_rows`` (default
    100k rows ≈ 5e9 candidate pairs, the outer edge of a deliberate
    baseline run) with a pointer to :func:`ivf_dup_pairs`. The gate is
    why the registered query stays honest at 100 TB: nobody can run the
    all-pairs plan on a corpus by accident.

    The IVF form cannot simply replace this one: below dup-grade
    thresholds (this corpus maxes at cos ~0.51) qualifying pairs DO
    split across IVF clusters, so the blocked plan under-recalls the
    exact answer — measured and characterized in
    tests/test_crossvalidation.py::test_ivf_dup_pairs_subset_of_bruteforce.

    The gate is a BOUNDED probe, not a full count: limit(max_rows+1)
    stops scanning the moment the bound is exceeded, so an over-size
    input fails in O(max_rows) regardless of corpus size, and a
    legitimate input pays one cheap bounded pre-scan (the gate is the
    one eager step in an otherwise lazy plan builder — documented
    trade for refusing accidental O(n^2) runs).
    """
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"cosine_dup_pairs is the all-pairs exactness baseline, gated at "
            f"{max_rows} rows (input exceeds it): the candidate-pair count "
            f"would be >~{max_rows * max_rows // 2:.1e}. Use ivf_dup_pairs "
            f"(cluster-blocked) at scale."
        )
    a = with_norm(df, vec_col, "__na").select(
        F.col(id_col).alias("id_a"), _to_double(F.col(vec_col)).alias("__va"), "__na"
    )
    b = with_norm(df, vec_col, "__nb").select(
        F.col(id_col).alias("id_b"), _to_double(F.col(vec_col)).alias("__vb"), "__nb"
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Arrow/BLAS fast path of :func:`cosine_topk` — same plan shape
    (probes ship to every corpus partition, corpus scanned once), but the
    scoring runs as ONE numpy matmul per Arrow batch instead of
    interpreted per-element HOF lambdas, and each batch emits only its
    LOCAL top-k per probe, so the final window shuffles k rows per
    (probe, batch) instead of the full |corpus| x |probes| score matrix.

    Results equal the HOF form up to float summation order (BLAS blocked
    sums vs sequential aggregate) — cross-validated with tolerance in
    tests; the HOF form remains the bit-exact oracle face. Use this one
    when throughput matters, that one when the DuckDB-matching value is
    the contract.
    """
    import numpy as np

    probe_rows = probes.select(probe_id_col, vec_col).collect()  # small by contract
    pids = [r[probe_id_col] for r in probe_rows]
    P = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in probe_rows])
    Pn = np.linalg.norm(P, axis=1)
    out_schema = f"{probe_id_col} long, neighbor_id long, cos_sim double"

    def kernel(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _np.stack(
                [_np.asarray(v, dtype=_np.float64) for v in pdf[vec_col]]
            )
            ids = pdf[id_col].to_numpy()
            Cn = _np.linalg.norm(C, axis=1)
            S = (C @ P.T) / _np.outer(Cn, Pn)
            out_p, out_n, out_s = [], [], []
            for j, pid in enumerate(pids):
                mask = ids != pid
                col, nid = S[:, j][mask], ids[mask]
                # local top-k: sort by (-cos, neighbor_id) for determinism
                order = _np.lexsort((nid, -col))[:k]
                out_p.extend([pid] * len(order))
                out_n.extend(nid[order])
                out_s.extend(col[order])
            yield _pd.DataFrame(
                {probe_id_col: out_p, "neighbor_id": out_n, "cos_sim": out_s}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy(probe_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_dup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Intra-cluster embedding near-dup pairs — the 100 TB form of
    ``cosine_dup_pairs``.

    IVF-assign both sides, then pair ONLY within a cluster: near-identical
    vectors share a nearest centroid with overwhelming probability at
    dup-grade thresholds, so recall stays ~1 while the candidate count
    drops from O(n^2) to sum_c O(n_c^2). Crucially the cluster id is an
    EQUI join key — the pairing co-partitions both sides by cluster (one
    bounded shuffle each) instead of materializing an all-pairs join.
    Returns (id_a, id_b, cos_sim) with id_a < id_b and cos_sim >= t.
    """
    assigned = ivf_assign(df, centroids, vec_col, id_col)
    base = with_norm(assigned, vec_col, "__n").select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("__v"), "__n", "cluster"
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "cluster",
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "cluster",
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, find near-duplicate pairs WITHIN each cluster, keep
    the lowest-id member of every dup relation and drop the rest.

    Survivor rule: drop v iff some u with u.id < v.id sits in v's cluster
    at cos(u, v) >= threshold — i.e. anti-join the corpus against the
    distinct right sides of ``ivf_dup_pairs``. The dropped-id set is tiny
    relative to the corpus (dups are the exception), so Spark broadcasts
    the anti-join side; the corpus itself never reshuffles beyond the
    cluster equi-join inside the pairing.
    """
    pairs = ivf_dup_pairs(df, centroids, threshold, vec_col, id_col)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(F.broadcast(dropped), id_col, "left_anti")


def grouped_centroids_pandas(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group centroid via ``applyInPandas`` — the Arrow grouped-kernel
    path (numpy mean per group), for when the per-group math outgrows SQL
    expressions (covariances, PCA steps, medoids...).

    The declarative twin (faces.relational.q_centroids) is preferred when
    expressible: it shuffles (group, dim) pairs instead of whole vectors
    and stays JVM-side. This kernel exists to pin the applyInPandas seam:
    schema contract, Arrow batching, self-contained (cloudpickle-by-value)
    kernel.
    """
    import numpy as np  # noqa: F401  (imported for the driver; kernel re-imports)

    out_schema = "label int, centroid array<double>, n_vectors long"

    def kernel(pdf):
        import numpy as _np
        import pandas as _pd

        mat = _np.stack(pdf[vec_col].to_numpy())
        return _pd.DataFrame(
            {
                "label": [int(pdf[group_col].iloc[0])],
                "centroid": [mat.mean(axis=0).tolist()],
                "n_vectors": [len(pdf)],
            }
        )

    return df.select(group_col, vec_col).groupBy(group_col).applyInPandas(
        kernel, out_schema
    )


# -- IVF ----------------------------------------------------------------------


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine).

    Broadcast fan-out + hash-aggregate argmax: each corpus vector scores
    the K broadcast centroids (flat codegen-friendly per-row expressions),
    then ``max(struct(sim, -cid))`` picks the winner as a plain aggregate
    — ties resolve to the lowest cid, the same total order a row_number
    window would use, but with map-side partial aggregation the shuffle
    carries ~|corpus| pre-collapsed rows instead of the corpus x K fan-out
    that a window (which must sort every scored row) would move. The
    per-pair double arithmetic is unchanged, so assignments stay
    bit-for-bit identical to the window form. (A zero-shuffle variant —
    all K centroids in one array column, HOF argmax per row — was
    measured ~2x SLOWER here: interpreted struct-array lambdas lose to
    codegen'd flat columns; see git history.)
    """
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).cast("long").alias("__cid"),
            _to_double(F.col(centroid_vec_col)).alias("__cvec"),
        ).withColumn("__cnorm", l2_norm(F.col("__cvec")))
    )
    c = with_norm(corpus, vec_col, "__n")
    sim = dot(_to_double(F.col(vec_col)), F.col("__cvec")) / (
        F.col("__n") * F.col("__cnorm")
    )
    # r14 (guide §2.3 shuffle fewer bytes / §1.2 step 1): the former
    # ``max(struct(sim, -cid))`` argmax has a struct aggregation buffer,
    # which cannot hash-aggregate — the plan paid Sort + SortAggregate +
    # Exchange + SortAggregate over the corpus x K fan-out WITH the full
    # embedding array carried through (``first(embedding)`` rode the
    # same aggregate).  Two-pass hash-aggregable argmax on NARROW rows
    # instead: max(sim) per id (double buffer), tie-break to min cid
    # among rows equal to the max (Spark's NaN semantics make NaN = NaN
    # true and NaN the greatest double, so an all-NaN vector keeps its
    # min-cid winner exactly as the struct ordering did), then ONE
    # narrow (id, cluster) join attaches the winner back to the corpus
    # row.  Same argmax total order => bit-identical assignments; the
    # shuffles now carry (id, cid, sim) and (id, cluster) only.
    scored = c.join(cent).select(
        F.col(id_col), F.col("__cid"), sim.alias("__s")
    )
    winner = (
        scored.join(
            scored.groupBy(id_col).agg(F.max("__s").alias("__bs")), id_col
        )
        .where(F.col("__s") == F.col("__bs"))
        .groupBy(id_col)
        .agg(F.min("__cid").alias("cluster"))
    )
    return corpus.join(winner, id_col).select(*corpus.columns, "cluster")


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Approximate top-k: search only each probe's ``nprobe`` nearest
    clusters. Join key is the cluster id, so the corpus side can be
    pre-partitioned/bucketed by cluster and the probe fan-out is a cheap
    broadcast — no corpus shuffle.
    """
    assigned = ivf_assign(corpus, centroids, vec_col, id_col)
    probe_clusters = (
        ivf_topk_probe_clusters(probes, centroids, nprobe, vec_col, probe_id_col)
    )
    c = with_norm(assigned, vec_col, "__cn").select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cv"),
        "__cn",
        "cluster",
    )
    p = with_norm(probes, vec_col, "__pn").select(
        probe_id_col, _to_double(F.col(vec_col)).alias("__pv"), "__pn"
    )
    scored = (
        c.join(F.broadcast(probe_clusters), "cluster")
        .join(F.broadcast(p), probe_id_col)
        .filter(F.col("neighbor_id") != F.col(probe_id_col))
        .select(
            probe_id_col,
            "neighbor_id",
            (dot(F.col("__cv"), F.col("__pv")) / (F.col("__cn") * F.col("__pn"))).alias(
                "cos_sim"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_probe_clusters(
    probes: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """(probe_id, cluster) — each probe's nprobe nearest centroids."""
    cent = F.broadcast(
        centroids.select(
            F.col("centroid_id").alias("cluster"),
            _to_double(F.col("centroid_vec")).alias("__cvec"),
        ).withColumn("__cnorm", l2_norm(F.col("__cvec")))
    )
    p = with_norm(probes, vec_col, "__pn")
    scored = p.join(cent).withColumn(
        "__sim",
        dot(_to_double(F.col(vec_col)), F.col("__cvec")) / (F.col("__pn") * F.col("__cnorm")),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.desc("__sim"), F.asc("cluster"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(probe_id_col, "cluster")
    )


# -- PQ: product quantization (Jegou et al., TPAMI 2011) ----------------------
#
# The memory tier of the ANN stack. IVF (above) bounds how much of the
# corpus a probe SCANS; PQ bounds how many BYTES each scanned vector
# costs: a D-dim float32 vector (256 bytes at D=64) compresses to m
# sub-codes (m bytes at ks<=256), and queries score codes through a
# per-probe lookup table (ADC — asymmetric distance computation) without
# ever reconstructing the vector. At 100 TB this is the difference
# between embeddings that fit executor memory and embeddings that spill:
# the codes table is ~1/64th the corpus, scans once, and never shuffles
# anything wider than (id, m bytes).
#
# Design choices, made for determinism and Spark-shape:
# - vectors are L2-normalized BEFORE splitting, so maximum-inner-product
#   ADC ranks by (approximate) cosine — directly comparable with the
#   exact cosine_topk above.
# - training runs driver-side on a BOUNDED deterministic sample (the
#   id-ordered head, like FAISS trains on a sample): codebooks are a few
#   KB, broadcast by closure into the Arrow kernels. Fixed Lloyd
#   iteration count + deterministic init (evenly spaced sample rows per
#   subspace) => bit-identical codebooks run-to-run, no RNG.
# - encode and ADC scoring are Arrow-batched numpy kernels (one argmin /
#   one LUT-gather matmul per batch) emitting LOCAL top-k per batch —
#   the same shuffle-k-rows-per-batch shape as cosine_topk_pandas.


def train_pq(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 10,
    sample_rows: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Train PQ codebooks on the id-ordered head of the corpus.

    Returns {"m", "ks", "dim", "codebooks"} where codebooks is a
    float64 ndarray of shape (m, ks, dim/m). The sample is bounded
    (``limit(sample_rows)`` after an id sort), so training cost is
    independent of corpus size; the returned object is a few KB and
    travels to executors inside kernel closures, not as a join side.
    Deterministic end-to-end: sorted sample, evenly-spaced init,
    fixed-count Lloyd updates, ties broken by argmin's first-index rule.
    """
    import numpy as np

    rows = (
        df.orderBy(id_col).select(vec_col).limit(sample_rows).collect()
    )  # bounded by contract
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n < ks:
        raise ValueError(f"sample of {n} rows cannot seed ks={ks} centroids")
    dsub = dim // m
    books = np.empty((m, ks, dsub))
    for sub in range(m):
        S = X[:, sub * dsub : (sub + 1) * dsub]
        cent = S[(np.arange(ks) * n) // ks].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ks):
                mask = assign == j
                if mask.any():  # empty cluster keeps its previous centroid
                    cent[j] = S[mask].mean(axis=0)
        books[sub] = cent
    return {"m": m, "ks": ks, "dim": dim, "codebooks": books}


def pq_encode(
    corpus: DataFrame,
    codebook: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantize every corpus vector to its m nearest-sub-centroid codes.

    One Arrow-batched kernel pass: normalize, reshape (n, m, dsub),
    argmin against each sub-codebook. Output (id, codes array<int>) —
    the only thing downstream ANN ever shuffles or stores; at ks<=256
    each code fits a byte in parquet's dictionary encoding."""
    import numpy as np

    books = np.ascontiguousarray(codebook["codebooks"])
    m, dsub = books.shape[0], books.shape[2]
    out_schema = f"{id_col} long, codes array<integer>"

    def kernel(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf[vec_col]])
            X /= _np.linalg.norm(X, axis=1, keepdims=True)
            S = X.reshape(len(X), m, dsub)
            codes = _np.empty((len(X), m), dtype=_np.int64)
            for sub in range(m):
                # ||x-c||^2 argmin == (||c||^2 - 2xc) argmin; one matmul
                d = (books[sub] ** 2).sum(axis=1)[None, :] - 2.0 * (
                    S[:, sub, :] @ books[sub].T
                )
                codes[:, sub] = d.argmin(axis=1)
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "codes": [c.tolist() for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)


def pq_topk(
    codes: DataFrame,
    probes: DataFrame,
    codebook: dict,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """ADC top-k: probes score the CODES table through per-probe lookup
    tables — the corpus vectors are never touched. LUT[p, sub, j] =
    <probe_p sub-vector, sub-centroid j>; a row's approximate cosine is
    a pure m-way gather-sum, vectorized per Arrow batch, and each batch
    emits only its local top-k per probe (shuffle = k rows/probe/batch).
    Returns (probe_id, neighbor_id, approx_cos, rank)."""
    import numpy as np

    books = np.ascontiguousarray(codebook["codebooks"])
    m, ks, dsub = books.shape
    probe_rows = probes.select(probe_id_col, vec_col).collect()  # small by contract
    pids = [r[probe_id_col] for r in probe_rows]
    P = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in probe_rows])
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    # LUT: (n_probes, m, ks)
    LUT = np.einsum("pmd,mkd->pmk", P.reshape(len(P), m, dsub), books)
    out_schema = f"{probe_id_col} long, neighbor_id long, approx_cos double"

    def kernel(batches):
        import numpy as _np
        import pandas as _pd

        subs = _np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _np.stack([_np.asarray(c, dtype=_np.int64) for c in pdf["codes"]])
            ids = pdf[id_col].to_numpy()
            # S[i, p] = sum_sub LUT[p, sub, C[i, sub]]
            S = LUT[:, subs[None, :], C].sum(axis=2).T
            out_p, out_n, out_s = [], [], []
            for j, pid in enumerate(pids):
                mask = ids != pid
                col, nid = S[:, j][mask], ids[mask]
                order = _np.lexsort((nid, -col))[:k]
                out_p.extend([pid] * len(order))
                out_n.extend(nid[order])
                out_s.extend(col[order])
            yield _pd.DataFrame(
                {probe_id_col: out_p, "neighbor_id": out_n, "approx_cos": out_s}
            )

    scored = codes.select(id_col, "codes").mapInPandas(kernel, out_schema)
    w = Window.partitionBy(probe_id_col).orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_recall(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    codebook: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Measure, don't guess (the PQ face of q_ann_recall): per-probe
    recall@k of ADC-over-codes against the exact cosine top-k on the same
    probes — the number that justifies (m, ks) before anyone trusts the
    compressed index. Returns (probe_id, n_found, recall)."""
    exact = cosine_topk(corpus, probes, k, vec_col, id_col, probe_id_col).select(
        probe_id_col, "neighbor_id"
    )
    codes = pq_encode(corpus, codebook, vec_col, id_col)
    approx = pq_topk(codes, probes, codebook, k, vec_col, id_col, probe_id_col).select(
        F.col(probe_id_col).alias("__p"), F.col("neighbor_id").alias("__n")
    )
    hit = exact.join(
        approx,
        (exact[probe_id_col] == approx.__p) & (exact.neighbor_id == approx.__n),
        "left_semi",
    )
    found = hit.groupBy(probe_id_col).agg(F.count(F.lit(1)).alias("n_found"))
    return (
        exact.groupBy(probe_id_col)
        .agg(F.count(F.lit(1)).alias("k"))
        .join(found, probe_id_col, "left")
        .select(
            probe_id_col,
            F.coalesce("n_found", F.lit(0)).alias("n_found"),
            (F.coalesce("n_found", F.lit(0)) / F.col("k")).alias("recall"),
        )
    )


def pq_topk_rerank(
    corpus: DataFrame,
    probes: DataFrame,
    codebook: dict,
    k: int,
    shortlist: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """The production PQ pattern: ADC over codes produces a cheap
    ``shortlist`` of candidates per probe, then ONLY those rows are
    re-scored with exact cosine against the full vectors. The expensive
    exact math runs on |probes| x shortlist rows instead of |probes| x
    |corpus|; the full-vector table is touched once, via a broadcast
    semi-join of shortlist ids (shortlist*|probes| ids — trivially
    broadcastable). Quantization error then only costs recall where the
    true neighbor fell OUT of the shortlist, which widening `shortlist`
    drives to zero — measured in tests/test_pq.py against exact top-k.
    Returns (probe_id, neighbor_id, cos_sim, rank) like cosine_topk."""
    codes = pq_encode(corpus, codebook, vec_col, id_col)
    cand = pq_topk(
        codes, probes, codebook, shortlist, vec_col, id_col, probe_id_col
    ).select(probe_id_col, "neighbor_id")
    return _exact_rerank(corpus, cand, probes, k, vec_col, id_col, probe_id_col)


def _exact_rerank(
    corpus: DataFrame,
    cand: DataFrame,
    probes: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    probe_id_col: str,
) -> DataFrame:
    """Shared rerank tail of the compressed-index tiers (PQ / SQ8): exact
    cosine over ONLY the (probe, candidate) shortlist pairs, full-vector
    table touched once via a broadcast semi-join of shortlist ids."""
    c = with_norm(corpus, vec_col, "__cn").select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cv"),
        "__cn",
    )
    p = with_norm(probes, vec_col, "__pn").select(
        probe_id_col, _to_double(F.col(vec_col)).alias("__pv"), "__pn"
    )
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(p), probe_id_col)
        .select(
            probe_id_col,
            "neighbor_id",
            (dot(F.col("__cv"), F.col("__pv")) / (F.col("__cn") * F.col("__pn"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def train_sq8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Train the int8 scalar quantizer: per-dimension [min, max] of the
    L2-NORMALIZED corpus, computed fully distributed (posexplode ->
    per-dimension min/max agg) — unlike train_pq's bounded sample, this
    pass sees every row, because the model is only 2*dim floats and the
    agg is one dim-cardinality shuffle. Returns {"dim", "vmin", "scale"}
    (scale = (max-min)/255, floored at 1e-12 so constant dimensions
    encode to code 0 instead of dividing by zero)."""
    import numpy as np

    # stage the norm as its own projection — embedded in the transform
    # lambda it would re-evaluate per element (minhash_bands rule)
    rows = (
        with_norm(df, vec_col, "__n")
        .select(
            F.posexplode(
                F.transform(vec_col, lambda x: x.cast("double") / F.col("__n"))
            ).alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
        .collect()
    )  # bounded: one row per embedding dimension
    dim = len(rows)
    vmin = np.empty(dim)
    scale = np.empty(dim)
    for r in rows:
        vmin[r["pos"]] = r["lo"]
        scale[r["pos"]] = max((r["hi"] - r["lo"]) / 255.0, 1e-12)
    return {"dim": dim, "vmin": vmin, "scale": scale}


def sq8_encode(
    corpus: DataFrame,
    params: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantize every vector to dim one-byte codes (4x smaller than
    float32, 8x smaller than the double math): one Arrow kernel pass,
    code = round((x_normalized - vmin) / scale) clipped to [0, 255].
    Output (id, codes array<int>) — parquet dictionary-encodes the bytes."""
    import numpy as np

    vmin, scale = params["vmin"], params["scale"]
    out_schema = f"{id_col} long, codes array<integer>"

    def kernel(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf[vec_col]])
            X /= _np.linalg.norm(X, axis=1, keepdims=True)
            codes = _np.clip(_np.round((X - vmin) / scale), 0, 255).astype(_np.int64)
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "codes": [c.tolist() for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)


def sq8_topk(
    codes: DataFrame,
    probes: DataFrame,
    params: dict,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """ADC top-k over int8 codes: dequant(code) = vmin + code*scale, so
    <probe, dequant(codes)> = const(probe) + codes . (probe * scale) —
    the constant never reorders a probe's ranking, so each row's score is
    a single int-matrix x weight-vector product. Per Arrow batch, local
    top-k per probe (shuffle = k rows/probe/batch), exactly pq_topk's
    window contract. Returns (probe_id, neighbor_id, approx_cos, rank)."""
    import numpy as np

    scale = np.ascontiguousarray(params["scale"])
    probe_rows = probes.select(probe_id_col, vec_col).collect()  # small by contract
    pids = [r[probe_id_col] for r in probe_rows]
    P = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in probe_rows])
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    W = (P * scale[None, :]).T  # (dim, n_probes)
    out_schema = f"{probe_id_col} long, neighbor_id long, approx_cos double"

    def kernel(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _np.stack([_np.asarray(c, dtype=_np.float64) for c in pdf["codes"]])
            ids = pdf[id_col].to_numpy()
            S = C @ W  # (n, n_probes)
            out_p, out_n, out_s = [], [], []
            for j, pid in enumerate(pids):
                mask = ids != pid
                col, nid = S[:, j][mask], ids[mask]
                order = _np.lexsort((nid, -col))[:k]
                out_p.extend([pid] * len(order))
                out_n.extend(nid[order])
                out_s.extend(col[order])
            yield _pd.DataFrame(
                {probe_id_col: out_p, "neighbor_id": out_n, "approx_cos": out_s}
            )

    scored = codes.select(id_col, "codes").mapInPandas(kernel, out_schema)
    w = Window.partitionBy(probe_id_col).orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def sq8_topk_rerank(
    corpus: DataFrame,
    probes: DataFrame,
    params: dict,
    k: int,
    shortlist: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """SQ8 shortlist + exact rerank — same production pattern and output
    contract as pq_topk_rerank, with a milder quantization error (int8
    per dimension vs one code per 8-dim subspace), so the shortlist
    needed for exact-top-k recovery is far narrower than PQ's
    (characterized in tests/test_sq8.py)."""
    codes = sq8_encode(corpus, params, vec_col, id_col)
    cand = sq8_topk(
        codes, probes, params, shortlist, vec_col, id_col, probe_id_col
    ).select(probe_id_col, "neighbor_id")
    return _exact_rerank(corpus, cand, probes, k, vec_col, id_col, probe_id_col)


# -- Signed-random-projection (hyperplane) LSH --------------------------------
#
# Charikar's SimHash for real vectors (STOC'02): each of n_planes signed
# "hyperplanes" s_p in {+1,-1}^dim turns a vector into one sign bit
# bit_p = [<s_p, v> >= 0]; P[bits agree] = 1 - angle(a,b)/pi, so near-
# cosine vectors collide on most bits and Hamming distance on the short
# signature is a cheap blocking key.  This is the EMBEDDING twin of the
# token-space simhash16 in operators/dedup.py, and the fourth ANN/near-dup
# tier beside IVF (cluster blocking), PQ and SQ8 (compressed distance).
#
# Reference behavior anchor: the reference engine keeps one metadata row
# per artifact and dedups by exact key only (app/changes_consumer.py
# ~L100-140); every vector tier is extension surface mandated by the spec.
#
# Determinism contract: the caller passes the sign matrix (srp_signs()
# derives one from md5, reproducible in any engine); components are
# quantized to 1/2^24 (below float32 resolution, same scaling as the
# centroid queries) so each plane dot is exact int64 arithmetic — the
# sign bit can never flip between engines from float summation order.
# At 100 TB: the signature is a pure map-side projection (whole-stage
# codegen HOFs, no Python); the self-join shuffles (block, sig) pairs —
# 12 bytes a row, never the vectors; pair verification re-joins the
# corpus by id on an equi key.  Nothing is all-pairs.

_SRP_SCALE = 1 << 24


def srp_signs(n_planes: int = 16, dim: int = 64) -> list[list[int]]:
    """Deterministic {+1,-1} hyperplane matrix from md5("srp:<p>:<d>") —
    no RNG state to ship; any engine (DuckDB oracle included) can replay
    it bit-for-bit.  Production would broadcast a seeded Gaussian matrix;
    sign-only entries lose nothing for the sign-bit test (Achlioptas'01
    sparse/sign projections)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"srp:{p}:{d}".encode()).digest()[0] % 2 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_signature(vec_col: Column | str, signs: list[list[int]]) -> Column:
    """n_planes-bit SRP signature as an int column — one HOF expression
    per row, no shuffle, no Python."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    q = F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(float(_SRP_SCALE))).cast("long"),
    )
    sig = F.lit(0)
    for p, row in enumerate(signs):
        lits = F.array(*[F.lit(int(s)) for s in row])
        plane_dot = F.aggregate(
            F.zip_with(q, lits, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(plane_dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def srp_pairs(
    df: DataFrame,
    signs: list[list[int]],
    max_hamming: int = 6,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-cosine candidate pairs by SRP signature, exact-verified.

    Blocking = simhash_pairs' half-signature pigeonhole: candidates are
    pairs agreeing on the low or high half of the signature (bucketed
    self-join on an 8-bit-plus-sig key — never all-pairs).  Survivors
    with Hamming(sig) <= max_hamming are re-joined to the corpus by id
    and exact-cosine-verified, so every emitted pair is TRUE >= threshold;
    blocking only costs recall, measured in tests/test_srp.py against the
    brute-force baseline.

    Regime note: SRP blocking is built for true near-duplicates (cos >=
    ~0.9, per-bit collision ~0.97 -> half-block recall ~95%, measured in
    tests/test_srp.py::test_near_dup_recall).  At weak thresholds (~0.4,
    per-bit ~0.63) it under-recalls — the same weak-regime caveat
    q_cosine_dup_pairs documents for IVF blocking; use the exact brute
    baseline or IVF there."""
    n_planes = len(signs)
    half = 1 << (n_planes // 2)
    # widen a narrow input (single-file scan) before the signature
    # kernel, and persist the signatures: both half-block branches use
    # both aliases of ``sigs`` — uncached that is FOUR evaluations of
    # the n_planes x dim hyperplane products, serialized in one task
    # when the scan is one partition (r10 stage audit; no-op at cluster
    # scale where the scan is already wide)
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    sigs = df.select(
        F.col(id_col), srp_signature(vec_col, signs).alias("__sig")
    ).persist()
    lo = (F.col("__sig") % half).alias("__blk")
    hi = F.floor(F.col("__sig") / half).cast("int").alias("__blk")
    half_pairs = []
    for blk in (lo, hi):
        a = sigs.select(F.col(id_col).alias("id_a"), F.col("__sig").alias("__sig_a"), blk)
        b = sigs.select(F.col(id_col).alias("id_b"), F.col("__sig").alias("__sig_b"), blk)
        half_pairs.append(
            a.join(b, "__blk").filter(F.col("id_a") < F.col("id_b")).drop("__blk")
        )
    cand = (
        half_pairs[0]
        .unionByName(half_pairs[1])
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    na = with_norm(df, vec_col, "__na").select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        "__na",
    )
    nb = with_norm(df, vec_col, "__nb").select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        "__nb",
    )
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            (
                dot(_to_double(F.col("__va")), _to_double(F.col("__vb")))
                / (F.col("__na") * F.col("__nb"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )


# -- Distributed k-means (Lloyd) ----------------------------------------------
#
# The unsupervised centroid trainer behind every IVF-style index (the
# registered IVF queries use a deterministic id-mod centroid PICK so
# their oracles stay one CTE; this is the real trainer).  Canonical
# cluster shape per Lloyd round:
#   1. assignment is MAP-SIDE: the k x dim centroid matrix is tiny and
#      rides into the executors as literal arrays (same closure-broadcast
#      pattern as train_pq's codebooks) — no shuffle, no Python;
#   2. the update is ONE shuffle keyed (cluster, dim) of integer partial
#      sums (posexplode -> partial agg), never of vectors;
#   3. the driver touches only k x dim numbers per round (the centroids),
#      the canonical parameter-server-free iteration.
#
# Determinism contract (what makes q_kmeans ORACLE-CHECKABLE, unusual
# for an iterative algorithm): components quantize to 1/2^24 once, so
# squared-L2 distances are EXACT int64 arithmetic (64 * (2^26)^2 < 2^63)
# and argmin ties break on the lowest cluster id exactly; the mean's
# double division and re-quantization floor((sum/2^24/cnt) * 2^24) are
# the same two IEEE ops in Spark and DuckDB.  No float summation order
# exists anywhere, so an engine replaying the same unrolled rounds gets
# bit-identical assignments.
#
# Reference behavior anchor: none — the reference engine has no vector
# surface (SURVEY §2.9 extension mandate); the IVF tier this trains is
# cited at similarity.py::ivf_assign.


def _quantize(vec_col: Column | str) -> Column:
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(float(_SRP_SCALE))).cast("long"),
    )


def _nearest_centroid(q: Column, centroids_q: list[list[int]]) -> Column:
    """argmin cluster id by exact quantized squared-L2 over a quantized
    vector column: per cluster one zip_with/aggregate HOF, argmin =
    array_min over (dist, cid) structs — ties break to the lowest cid."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        q,
                        F.array(*[F.lit(int(c)) for c in cq]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(cid).alias("cid"),
            )
            for cid, cq in enumerate(centroids_q)
        ]
    )
    return F.array_min(dists).getField("cid")


def kmeans_assign(
    df: DataFrame,
    centroids_q: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each row to its nearest centroid — pure map-side codegen.

    ``centroids_q`` are 2^24-quantized integer centroids (index = cluster
    id); see :func:`_nearest_centroid` for the exact-argmin contract.
    """
    return df.select(
        F.col(id_col),
        _nearest_centroid(_quantize(vec_col), centroids_q).alias("cluster"),
    )


def _requantize(total: int, cnt: int) -> int:
    """floor((sum/2^24/cnt) * 2^24) — the shared Spark/DuckDB/driver
    re-quantization of an exact integer mean (two IEEE double ops)."""
    import math

    return int(math.floor(total / float(_SRP_SCALE) / cnt * float(_SRP_SCALE)))


def train_kmeans(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    tol: float = 0.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: list[list[float]] | None = None,
) -> dict:
    """Lloyd's algorithm to ``n_iter`` rounds (or centroid shift < tol).

    Init defaults to the k lowest-id vectors (deterministic, SQL-trivial
    for the oracle; k-means++ would need a sequential sampling pass).
    Returns {"centroids_q": [[int]], "n_iter", "shifts"}; feed the final
    centroids to kmeans_assign for the partition, or dequantize
    (value / 2^24) for float centroids.

    One Spark job per round: map-side assign -> posexplode -> one
    (cluster, pos) integer-sum shuffle -> k x dim rows to the driver.
    Empty clusters keep their previous centroid (both engines).
    """
    if init is None:
        seed = (
            df.orderBy(F.col(id_col))
            .limit(k)
            .select(_quantize(vec_col).alias("q"))
            .collect()
        )
        cents = [list(r["q"]) for r in seed]
    else:
        import math

        cents = [
            [int(math.floor(x * _SRP_SCALE)) for x in c] for c in init
        ]
    shifts: list[float] = []
    # quantize ONCE and cache the integer vectors for the round loop:
    # every Lloyd round (and only the rounds — the cache is released
    # below once the loop's collects have consumed it) re-reads the
    # cached arrays instead of re-scanning the source and re-running the
    # per-component quantize transform n_iter times (guide §5: reuse +
    # recompute-cost justify the persist; exact integer values, so the
    # cached path is bit-identical to the re-scan it replaces)
    q = df.select(_quantize(vec_col).alias("__q")).persist()
    it = 0
    for it in range(1, n_iter + 1):
        # assignment + component explode in ONE projection of one scan —
        # no self-join; the only exchange per round is the (cluster, pos)
        # integer-sum shuffle below
        # (two chained projections, still one scan: posexplode's Generate
        # node strips struct-field names from sibling expressions, so the
        # argmin struct must resolve in its own projection first)
        comp = (
            q.select(
                _nearest_centroid(F.col("__q"), cents).alias("cluster"),
                "__q",
            )
            .select("cluster", F.posexplode("__q").alias("pos", "qc"))
            .groupBy("cluster", "pos")
            .agg(F.sum("qc").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cluster -> keep old
        for r in comp:
            new_cents[r["cluster"]][r["pos"]] = _requantize(r["s"], r["cnt"])
        shift = max(
            (
                sum((a - b) ** 2 for a, b in zip(nc, oc)) ** 0.5 / _SRP_SCALE
                for nc, oc in zip(new_cents, cents)
            ),
            default=0.0,
        )
        cents = new_cents
        shifts.append(shift)
        if tol > 0.0 and shift < tol:
            break
    # fully consumed by the per-round collects above — release eagerly
    # rather than leaking a CacheManager entry for the session lifetime
    q.unpersist()
    return {"centroids_q": cents, "n_iter": it, "shifts": shifts}

