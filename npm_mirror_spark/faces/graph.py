"""Faces built on ``operators/graph.py``: reciprocity, transitivity and
partition-quality scores of the co-purchase graph, each next to its
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from npm_mirror_spark.faces import MINHASH_EDGES, docs_with_dups, nodec
from npm_mirror_spark.operators import dedup as dedup_ops
from npm_mirror_spark.tables import load_table as _t


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (operators/graph.py:transitivity_cells)
    of the q_triangles co-purchase slice: 3T / wedges as ONE exact
    division — the hub-weighted global verdict the per-node local
    coefficients (q_triangles' lcc) don't give, and the two
    disagreeing flags hub-centered clustering.  The oracle COMPOSES
    the registered q_triangles SQL and just sums it."""
    from npm_mirror_spark.operators.graph import (
        basket_pairs,
        transitivity_cells,
        triangle_counts,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return transitivity_cells(triangle_counts(edges))


def _transitivity_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_triangles oracle SQL into the global
    transitivity fold."""
    return f"""
WITH t AS ({ORACLES["q_triangles"]})
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(sum(CAST(deg AS DECIMAL(38,0))) AS DOUBLE) AS deg_sum,
  CAST(sum(CAST(deg * (deg - 1) AS DECIMAL(38,0))) AS DOUBLE)
    AS wedges_x2,
  CAST(sum(CAST(triangles AS DECIMAL(38,0))) AS DOUBLE) AS tri_x3,
  CASE WHEN CAST(sum(CAST(deg * (deg - 1) AS DECIMAL(38,0)))
             AS DOUBLE) > 0
    THEN (2.0 * CAST(sum(CAST(triangles AS DECIMAL(38,0))) AS DOUBLE))
         / CAST(sum(CAST(deg * (deg - 1) AS DECIMAL(38,0))) AS DOUBLE)
  END AS transitivity
FROM t
"""


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity (operators/graph.py:reciprocity_cells)
    of the event-type transition graph (the q_event_transitions arcs,
    self-loops dropped): what share of arcs — and of transition FLOW
    (Garlaschelli-Loffredo min-weight share) — is answered in the
    reverse direction?  The asymmetry verdict the symmetric
    co-occurrence graphs can't carry; exact counts, two single
    divisions."""
    from npm_mirror_spark.operators.graph import reciprocity_cells

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    arcs = (
        e.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return reciprocity_cells(arcs)


_RECIPROCITY_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS s,
         event_type AS d
  FROM events),
tr AS (
  SELECT s, d, count(*) AS w FROM seq
  WHERE s IS NOT NULL AND s <> d GROUP BY 1, 2),
j AS (
  SELECT t.w, coalesce(r.w, 0) AS wr
  FROM tr t LEFT JOIN tr r ON t.s = r.d AND t.d = r.s)
SELECT CAST(count(*) AS BIGINT) AS n_arcs,
  CAST(sum(CASE WHEN wr > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_reciprocated,
  CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) AS sum_w,
  CAST(sum(CAST(least(w, wr) AS DECIMAL(38,0))) AS DOUBLE)
    AS sum_w_min,
  CAST(sum(CASE WHEN wr > 0 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS reciprocity,
  CAST(sum(CAST(least(w, wr) AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) AS w_reciprocity
FROM j
"""


# The oracles rebuild the q_triangles ``raw`` CTE (DISTINCT co-purchase
# pairs on the 1/5 order slice) WITHOUT the operator's max_basket=64
# guard — identical on TPC-H-shaped baskets (<= 7 items; the q_triangles
# precedent, documented there).
_RAW_EDGES = """raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2)"""


def _sliced_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from npm_mirror_spark.operators.graph import basket_pairs

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    return basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (operators/graph.py:modularity_cells) of the
    q_communities label-propagation partition over the sliced
    co-purchase graph — the quality verdict the partition face itself
    never reports.  q_term_x4m2 is an exact integer per community and
    the flat modularity is ONE division of the exact integer term sum
    by 4m^2.  The oracle COMPOSES the registered q_communities SQL."""
    from npm_mirror_spark.operators.graph import (
        label_propagation,
        modularity_cells,
    )

    edges = _sliced_edges(spark, sf_dir)
    labels = label_propagation(edges, n_rounds=2)
    return modularity_cells(edges, labels)


def _modularity_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_communities oracle SQL (labels) around
    the q_triangles edge CTE."""
    return f"""
WITH {_RAW_EDGES},
lab AS ({ORACLES["q_communities"]}),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
vol AS (
  SELECT lab.label AS l, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg.deg) AS BIGINT) AS degree_sum
  FROM lab JOIN deg ON deg.id = lab.id GROUP BY 1),
ee AS (
  SELECT la.label AS ca, lb.label AS cb
  FROM raw JOIN lab la ON la.id = raw.a
           JOIN lab lb ON lb.id = raw.b),
intr AS (
  SELECT ca AS l, CAST(count(*) AS BIGINT) AS internal
  FROM ee WHERE ca = cb GROUP BY 1),
m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM raw),
cells AS (
  SELECT vol.l, vol.n_nodes,
         CAST(coalesce(intr.internal, 0) AS BIGINT) AS internal_edges,
         vol.degree_sum, m.m_edges,
         CAST(CAST(4 * m.m_edges * coalesce(intr.internal, 0)
                   - vol.degree_sum * vol.degree_sum
              AS DECIMAL(38,0)) AS DOUBLE) AS q_term_x4m2
  FROM vol LEFT JOIN intr ON intr.l = vol.l CROSS JOIN m),
tot AS (
  SELECT CAST(sum(CAST(q_term_x4m2 AS DECIMAL(38,0))) AS DOUBLE) AS qs
  FROM cells)
SELECT l AS label, n_nodes, internal_edges, degree_sum, m_edges,
  q_term_x4m2,
  qs / (4.0 * CAST(m_edges AS DOUBLE) * CAST(m_edges AS DOUBLE))
    AS modularity
FROM cells CROSS JOIN tot ORDER BY label
"""


def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (operators/graph.py:
    conductance_cells) of the q_communities partition — the boundary
    verdict beside q_modularity's internal-density one: cut / min(vol,
    2m - vol), each cut edge credited to both sides.  Exact integer
    cells, one division per community.  The oracle COMPOSES the
    registered q_communities SQL."""
    from npm_mirror_spark.operators.graph import (
        conductance_cells,
        label_propagation,
    )

    edges = _sliced_edges(spark, sf_dir)
    labels = label_propagation(edges, n_rounds=2)
    return conductance_cells(edges, labels)


def _conductance_oracle(ORACLES: dict[str, str]) -> str:
    """Compose the verified q_communities oracle SQL (labels) around
    the q_triangles edge CTE."""
    return f"""
WITH {_RAW_EDGES},
lab AS ({ORACLES["q_communities"]}),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
vol AS (
  SELECT lab.label AS l, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg.deg) AS BIGINT) AS degree_sum
  FROM lab JOIN deg ON deg.id = lab.id GROUP BY 1),
ee AS (
  SELECT la.label AS ca, lb.label AS cb
  FROM raw JOIN lab la ON la.id = raw.a
           JOIN lab lb ON lb.id = raw.b),
cr AS (SELECT ca, cb FROM ee WHERE ca <> cb),
cut AS (
  SELECT l, CAST(count(*) AS BIGINT) AS cut_edges FROM (
    SELECT ca AS l FROM cr UNION ALL SELECT cb FROM cr) GROUP BY 1),
m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM raw)
SELECT vol.l AS label, vol.n_nodes, vol.degree_sum,
  CAST(coalesce(cut.cut_edges, 0) AS BIGINT) AS cut_edges, m.m_edges,
  CASE WHEN least(vol.degree_sum, 2 * m.m_edges - vol.degree_sum) > 0
    THEN CAST(coalesce(cut.cut_edges, 0) AS DOUBLE)
         / CAST(least(vol.degree_sum,
                      2 * m.m_edges - vol.degree_sum) AS DOUBLE)
  END AS conductance
FROM vol LEFT JOIN cut ON cut.l = vol.l CROSS JOIN m
ORDER BY label
"""


def q_attr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman categorical assortativity (operators/graph.py:
    attr_assortativity_cells) of the co-purchase graph by part BRAND —
    do baskets mix brands or stick to them, beyond what brand degree
    mass predicts?  The homophily verdict beside the structural degree
    assortativity face; exact mixing-matrix cells with denominators
    cleared, one division."""
    from npm_mirror_spark.operators.graph import attr_assortativity_cells

    edges = _sliced_edges(spark, sf_dir)
    attrs = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("cat")
    )
    return attr_assortativity_cells(edges, attrs)


_ATTR_ASSORTATIVITY_SQL = f"""
WITH {_RAW_EDGES},
ee AS (
  SELECT pa.p_brand AS cx, pb.p_brand AS cy
  FROM raw JOIN part pa ON pa.p_partkey = raw.a
           JOIN part pb ON pb.p_partkey = raw.b),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges,
         CAST(2 * sum(CASE WHEN cx = cy THEN 1 ELSE 0 END) AS BIGINT)
           AS same_x2
  FROM ee),
mass AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cats,
         CAST(sum(CAST(mm * mm AS DECIMAL(38,0))) AS DOUBLE)
           AS sum_cat_mass_sq
  FROM (SELECT c, count(*) AS mm FROM (
          SELECT cx AS c FROM ee UNION ALL SELECT cy FROM ee)
        GROUP BY 1))
SELECT m_edges, n_cats, same_x2, sum_cat_mass_sq,
  2.0 * CAST(m_edges AS DOUBLE) * CAST(same_x2 AS DOUBLE)
    - sum_cat_mass_sq AS assort_num,
  (2.0 * CAST(m_edges AS DOUBLE)) * (2.0 * CAST(m_edges AS DOUBLE))
    - sum_cat_mass_sq AS assort_den,
  CASE WHEN (2.0 * CAST(m_edges AS DOUBLE))
            * (2.0 * CAST(m_edges AS DOUBLE))
            - sum_cat_mass_sq <> 0
    THEN (2.0 * CAST(m_edges AS DOUBLE) * CAST(same_x2 AS DOUBLE)
          - sum_cat_mass_sq)
         / ((2.0 * CAST(m_edges AS DOUBLE))
            * (2.0 * CAST(m_edges AS DOUBLE)) - sum_cat_mass_sq)
  END AS assortativity
FROM m CROSS JOIN mass
"""


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient census (operators/graph.py:
    rich_club_cells) of the co-purchase slice — do the high-degree
    parts preferentially co-occur with EACH OTHER, beyond what the
    assortativity scalar can see?  phi(k) over the literal threshold
    grid k in (1,2,4,8,16); exact integer cells, one division per
    bounded row."""
    from npm_mirror_spark.operators.graph import rich_club_cells

    return rich_club_cells(_sliced_edges(spark, sf_dir))


_RICH_CLUB_SQL = f"""
WITH {_RAW_EDGES},
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
emin AS (
  SELECT least(da.deg, db.deg) AS md
  FROM raw JOIN deg da ON da.id = raw.a
           JOIN deg db ON db.id = raw.b),
ks AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16)) t(k)),
cells AS (
  SELECT ks.k,
    (SELECT CAST(coalesce(sum(CASE WHEN deg > ks.k THEN 1 ELSE 0 END),
                          0) AS BIGINT) FROM deg) AS n_rich,
    (SELECT CAST(coalesce(sum(CASE WHEN md > ks.k THEN 1 ELSE 0 END),
                          0) AS BIGINT) FROM emin) AS e_rich
  FROM ks)
SELECT k, n_rich, e_rich,
  CASE WHEN n_rich >= 2
    THEN (2.0 * CAST(e_rich AS DOUBLE))
         / (CAST(n_rich AS DOUBLE) * (CAST(n_rich AS DOUBLE) - 1.0))
  END AS phi
FROM cells ORDER BY k
"""


def _pagerank_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled relational PageRank over the MINHASH_EDGES dup graph —
    replays operators/graph.py::pagerank exactly: scaled-int64 ranks,
    integer contribution div, integer teleport, per-round (dst) sums.
    Iterative like the q_kmeans oracle; exact ints make it expressible."""
    head = f"""
WITH {MINHASH_EDGES},
und AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL SELECT id_b AS src, id_a AS dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
tp AS (SELECT CAST((1000000000000 * 15) // (100 * n) AS BIGINT) AS t,
              CAST(1000000000000 // n AS BIGINT) AS r_init FROM nn),
pr0 AS (SELECT deg.src AS id, tp.r_init AS rank FROM deg CROSS JOIN tp)"""
    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f""",
pr{t} AS (
  SELECT u.dst AS id,
         CAST(sum((r.rank * 85) // (100 * d.deg)) + any_value(tp.t) AS BIGINT)
           AS rank
  FROM und u
  JOIN pr{t - 1} r ON r.id = u.src
  JOIN deg d ON d.src = u.src
  CROSS JOIN tp
  GROUP BY u.dst)""")
    return head + "".join(rounds) + f"""
SELECT id, rank FROM pr{n_iter}"""


def _pagerank_directed_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled relational replay of graph.py::pagerank_directed over
    the directed dup-attribution graph (copy id_b -> original id_a):
    per round, a 1-row dangling-mass fold (nodes with no out-arc) joins
    the (dst)-keyed integer sums on the full node universe.  All
    arithmetic non-negative integer div/sum, so DuckDB's // floors
    exactly like Spark's div."""
    head = f"""
WITH {MINHASH_EDGES},
arcs AS (SELECT id_b AS src, id_a AS dst FROM edges),
nodes AS (SELECT DISTINCT id FROM
  (SELECT src AS id FROM arcs UNION ALL SELECT dst AS id FROM arcs)),
odeg AS (SELECT src, count(*) AS deg FROM arcs GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
tp AS (SELECT CAST((1000000000000 * 15) // (100 * n) AS BIGINT) AS t,
              CAST(1000000000000 // n AS BIGINT) AS r_init,
              n FROM nn),
pr0 AS (SELECT nodes.id, tp.r_init AS rank FROM nodes CROSS JOIN tp)"""
    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f""",
dang{t} AS (
  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dm
  FROM pr{t - 1} r LEFT JOIN odeg d ON d.src = r.id
  WHERE d.src IS NULL),
sums{t} AS (
  SELECT a.dst AS id,
         CAST(sum((r.rank * 85) // (100 * d.deg)) AS BIGINT) AS s
  FROM arcs a
  JOIN pr{t - 1} r ON r.id = a.src
  JOIN odeg d ON d.src = a.src
  GROUP BY a.dst),
pr{t} AS (
  SELECT no.id,
         CAST(coalesce(s.s, 0) + (dang{t}.dm * 85) // (100 * tp.n) + tp.t
              AS BIGINT) AS rank
  FROM nodes no
  LEFT JOIN sums{t} s ON s.id = no.id
  CROSS JOIN dang{t} CROSS JOIN tp)""")
    return head + "".join(rounds) + f"""
SELECT id, rank FROM pr{n_iter}"""


def _pagerank_seeded_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled replay of graph.py::pagerank_personalized over the same
    dup-attribution arcs as q_pagerank_directed, seeds = id%10==0
    nodes: teleport + dangling credit gated by seed membership, initial
    rank uniform on the seeds, zero elsewhere.  Non-negative integer
    div/sum throughout — DuckDB // floors exactly like Spark div."""
    head = f"""
WITH {MINHASH_EDGES},
arcs AS (SELECT id_b AS src, id_a AS dst FROM edges),
nodes AS (SELECT DISTINCT id FROM
  (SELECT src AS id FROM arcs UNION ALL SELECT dst AS id FROM arcs)),
odeg AS (SELECT src, count(*) AS deg FROM arcs GROUP BY src),
seeds AS (SELECT id FROM nodes WHERE id % 10 = 0),
ss AS (SELECT count(*) AS s FROM seeds),
tp AS (SELECT CAST((1000000000000 * 15) // (100 * s) AS BIGINT) AS t,
              CAST(1000000000000 // s AS BIGINT) AS r_init,
              s FROM ss),
fl AS (SELECT n.id, sd.id IS NOT NULL AS is_seed
       FROM nodes n LEFT JOIN seeds sd ON sd.id = n.id),
pr0 AS (SELECT fl.id,
               CASE WHEN fl.is_seed THEN tp.r_init ELSE CAST(0 AS BIGINT) END
                 AS rank
        FROM fl CROSS JOIN tp)"""
    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f""",
dang{t} AS (
  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dm
  FROM pr{t - 1} r LEFT JOIN odeg d ON d.src = r.id
  WHERE d.src IS NULL),
sums{t} AS (
  SELECT a.dst AS id,
         CAST(sum((r.rank * 85) // (100 * d.deg)) AS BIGINT) AS s
  FROM arcs a
  JOIN pr{t - 1} r ON r.id = a.src
  JOIN odeg d ON d.src = a.src
  GROUP BY a.dst),
pr{t} AS (
  SELECT fl.id,
         CAST(coalesce(s.s, 0)
              + CASE WHEN fl.is_seed
                     THEN (dang{t}.dm * 85) // (100 * tp.s) + tp.t
                     ELSE 0 END
              AS BIGINT) AS rank
  FROM fl
  LEFT JOIN sums{t} s ON s.id = fl.id
  CROSS JOIN dang{t} CROSS JOIN tp)""")
    return head + "".join(rounds) + f"""
SELECT id, rank FROM pr{n_iter} ORDER BY id"""


def q_pagerank_directed(spark, sf_dir):
    """Directed PageRank with dangling-mass handling
    (operators/graph.py:pagerank_directed) over the dup-ATTRIBUTION
    graph: each MinHash candidate pair becomes one arc from the
    higher-id doc (the injected copy) to the lower-id doc (its
    original), so rank flows toward originals and every component's
    minimum-id node is a genuine dangling sink (no out-arc) — the case
    the undirected operator refuses and this one redistributes via a
    per-round singleton aggregate. Same scaled-int64 determinism
    contract as q_pagerank; the oracle unrolls the rounds WITH the
    dangling fold."""
    from npm_mirror_spark.operators.graph import pagerank_directed

    arcs = dedup_ops.minhash_candidate_pairs(
        docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    return pagerank_directed(arcs, n_iter=3)


_PAGERANK_DIRECTED_SQL = _pagerank_directed_oracle_sql(3)


def q_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient
    (operators/graph.py:triangle_counts) over the CO-PURCHASE graph:
    parts are connected when some order contains both. Triangles are
    part triples pairwise co-purchased — the community/affinity signal
    behind recommendation and boilerplate-cluster analysis. The
    degree-ordered orientation bounds every wedge reducer at
    O(sqrt(2m)) rows regardless of hub parts (Suri & Vassilvitskii
    WWW'11); the oracle replays the canonicalization, orientation,
    wedge join and closure semi-join relationally — exact integers plus
    one IEEE division for the coefficient.  Edge building rides
    basket_pairs with its max_basket=64 guard (graph.py): baskets above
    the cap are dropped whole before the per-basket self-join, so the
    face can never go quadratic on an adversarial basket (TPC-H baskets
    are <= 7, so the fixture result — and the oracle — is unchanged)."""
    from npm_mirror_spark.operators.graph import basket_pairs, triangle_counts

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        # deterministic 1/5 order slice: wedge volume grows ~m^1.5, so
        # the registered face bounds the basket count; the operator
        # itself carries the full-scale orientation bound.  The FULL
        # graph gets its own registered face as the q_triangle_est
        # wedge-sampling estimator.
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return triangle_counts(edges).orderBy("id")


# q_triangles: the full degree-ordered-orientation replay — canonical
# (lo, hi) edges from the same-order part self-join, degrees, (deg, id)
# orientation, wedge join ordered on the destination key, closure via
# EXISTS, 3-role credit union — exact integers; lcc is one IEEE division.
_TRIANGLES_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.a ELSE r.b END AS src,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.b ELSE r.a END AS dst,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN db.deg ELSE da.deg END AS sd
  FROM raw r
  JOIN deg da ON da.id = r.a
  JOIN deg db ON db.id = r.b),
wedge AS (
  SELECT x.src AS u, x.dst AS v, y.dst AS w
  FROM o x JOIN o y
    ON x.src = y.src
   AND (x.sd < y.sd OR (x.sd = y.sd AND x.dst < y.dst))),
tri AS (
  SELECT u, v, w FROM wedge
  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wedge.v AND o.dst = wedge.w)),
credit AS (
  SELECT id, count(*) AS t FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri) GROUP BY id)
SELECT d.id, d.deg,
       CAST(coalesce(c.t, 0) AS BIGINT) AS triangles,
       CASE WHEN d.deg >= 2
            THEN (2.0 * CAST(coalesce(c.t, 0) AS DOUBLE))
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN credit c ON c.id = d.id
ORDER BY d.id
"""


def q_kcore(spark, sf_dir):
    """k-core peeling (operators/graph.py:kcore) over the same
    co-purchase graph as q_triangles: three fixed peels at k=20 strip
    stars/chains and leave the mutually-dense part-affinity core —
    the community-vs-hub separation PageRank alone can't make. Fixed
    rounds keep one lazy plan and make the fourth unrolled-iteration
    oracle (after PageRank, k-means, components); per round one degree
    count + two key-only semi-joins. q_kcore returns the surviving
    nodes with their subgraph degrees.  Edges ride basket_pairs with
    its max_basket=64 guard (graph.py) — the quadratic-basket
    protection shared with q_triangles; TPC-H baskets are <= 7, so the
    oracle is unchanged."""
    from npm_mirror_spark.operators.graph import basket_pairs, kcore

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return kcore(edges, k=20, n_rounds=3).orderBy("id")


# q_kcore: three peels unrolled — degree count, >= 20 keep-set, two-sided
# keep join, repeated; output is the surviving subgraph's degree table.
_KCORE_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
d0 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
k0 AS (SELECT id FROM d0 WHERE deg >= 20),
e1 AS (SELECT r.a, r.b FROM raw r
       JOIN k0 x ON x.id = r.a JOIN k0 y ON y.id = r.b),
d1 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY id),
k1 AS (SELECT id FROM d1 WHERE deg >= 20),
e2 AS (SELECT r.a, r.b FROM e1 r
       JOIN k1 x ON x.id = r.a JOIN k1 y ON y.id = r.b),
d2 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id),
k2 AS (SELECT id FROM d2 WHERE deg >= 20),
e3 AS (SELECT r.a, r.b FROM e2 r
       JOIN k2 x ON x.id = r.a JOIN k2 y ON y.id = r.b)
SELECT id, deg FROM (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id)
ORDER BY id
"""


def q_pagerank(spark, sf_dir):
    """PageRank over the DUPLICATION graph (MinHash/LSH candidate pairs,
    both directions): centrality ranks template/boilerplate carriers —
    hub documents near-duplicating many others — a curation signal the
    raw pair list doesn't expose. Third oracle-checked ITERATIVE
    algorithm beside q_kmeans and q_dedup_keepset: ranks are scaled
    int64 (1e-12 units) and every step is integer div/sum, so the
    oracle's three unrolled relational rounds are bit-identical
    (operators/graph.py determinism contract)."""
    from npm_mirror_spark.operators.graph import pagerank

    pairs = dedup_ops.minhash_candidate_pairs(
        docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # raw pairs: the operator symmetrizes internally (pre-expanding
    # would double every degree and shift the integer floors)
    return pagerank(pairs, n_iter=3)


_PAGERANK_SQL = _pagerank_oracle_sql(3)


def q_pagerank_seeded(spark, sf_dir):
    """Personalized PageRank (operators/graph.py:pagerank_personalized)
    over the dup-attribution arcs of q_pagerank_directed, restarted on
    the id%10==0 seed nodes: rank becomes proximity-to-the-seeds
    (similarity expansion around chosen templates) instead of global
    centrality. Teleport AND dangling mass return only to seeds via a
    node-sized membership flag; same scaled-int64 contract, fifth
    unrolled-iteration oracle."""
    from npm_mirror_spark.operators.graph import pagerank_personalized

    # lazily checkpointed (r14): the seed lineage below and the
    # operator's internal edge persist otherwise EACH evaluate the full
    # LSH candidate pipeline from parquet — one truncation point makes
    # both consumers read the same materialized arc blocks (guide §2.4)
    arcs = dedup_ops.minhash_candidate_pairs(
        docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        arcs.select(F.col("src").alias("id"))
        .unionByName(arcs.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = nodes.where(F.col("id") % 10 == 0)
    return pagerank_personalized(arcs, seeds, n_iter=3).orderBy("id")


_PAGERANK_SEEDED_SQL = _pagerank_seeded_oracle_sql(3)


def q_assoc_rules(spark, sf_dir):
    """Association rules over co-purchased part pairs: support,
    confidence and LIFT — the log-free association measures (PMI's
    exact-rational sibling), all integer counts closed by one IEEE
    division each. The pair/item count shuffles are the market-basket
    economics of q_event_cooccurrence; the 1-row basket-count frame
    broadcasts; top-50 by lift with a total-order tiebreak. Exactly
    replayable end to end.  The whole computation — pair, item and
    basket counts alike — runs on the max_basket=64-guarded basket set
    (graph.py:drop_oversized_baskets), so support/confidence stay
    mutually consistent and one adversarial basket can never go
    quadratic (TPC-H baskets are <= 7: fixture result and oracle
    unchanged)."""
    from npm_mirror_spark.operators.graph import drop_oversized_baskets

    li = drop_oversized_baskets(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        "l_orderkey",
        max_basket=64,
    )
    # ONE basket-key exchange feeds every consumer (r14): n, item and
    # BOTH pair-join sides read the same repartition exchange via
    # ReuseExchange, so the guard pipeline (distinct + size aggregate +
    # anti join) evaluates once instead of four times; the shuffle-hash
    # pin keeps the planner off the broadcast path that would rebuild
    # the lineage on the build side (the basket_pairs rationale —
    # guide §2.4, §3.1).  Values are unchanged: same rows, same
    # aggregates, only the exchange placement moves.
    li = li.repartition("l_orderkey")
    n = li.agg(F.count_distinct("l_orderkey").alias("__n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    # pair join inline on the ALREADY-guarded set (basket_pairs would
    # re-run the guard aggregate for nothing)
    x, y = li.alias("x"), li.hint("shuffle_hash").alias("y")
    pair = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    out = (
        pair.join(
            item.select(F.col("l_partkey").alias("a"), F.col("c").alias("c_a")),
            "a",
        )
        .join(
            item.select(F.col("l_partkey").alias("b"), F.col("c").alias("c_b")),
            "b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            (F.col("c_ab").cast("double") / F.col("__n").cast("double")).alias(
                "support"
            ),
            (F.col("c_ab").cast("double") / F.col("c_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("c_ab") * F.col("__n")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "a", "b").limit(50)


# q_assoc_rules: distinct basket-item pairs, integer pair/item counts,
# and the three association measures as single divisions of integer
# products; identical top-50 total order (lift desc, a, b).
_ASSOC_RULES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nn AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
item AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY l_partkey),
pair AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS c_ab
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 5)
SELECT p.a, p.b, p.c_ab, ia.c AS c_a, ib.c AS c_b,
       CAST(p.c_ab AS DOUBLE) / CAST(nn.n AS DOUBLE) AS support,
       CAST(p.c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE) AS confidence,
       CAST(p.c_ab * nn.n AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE) AS lift
FROM pair p
JOIN item ia ON ia.l_partkey = p.a
JOIN item ib ON ib.l_partkey = p.b
CROSS JOIN nn
ORDER BY lift DESC, p.a, p.b
LIMIT 50
"""


def q_triangle_est(spark, sf_dir):
    """FULL-graph triangle count by deterministic wedge sampling
    (operators/graph.py:triangle_count_sampled): the face q_triangles'
    1/5 basket slice cannot give — the whole co-purchase graph's
    triangle total, estimated by counting triangles whose unique
    orientation center lands in the md5(seed':'id)%5==0 vertex sample
    and scaling by 5 (unbiased: each triangle has exactly one center
    under degree-ordered orientation).  The wedge self-join runs on
    sampled-center out-edges only (~1/5 of the full wedge volume); the
    closure semi-join stays full.  Exact integers end to end, so the
    oracle replays bit-for-bit.  Edges ride the max_basket=64 guard."""
    from npm_mirror_spark.operators.graph import basket_pairs, triangle_count_sampled

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return triangle_count_sampled(edges, rate_den=5, seed=8)


# q_triangle_est: the same orientation replay over the FULL co-purchase
# graph, with the md5 center sample cutting the wedge join — exact
# integers, one row.
_TRIANGLE_EST_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM raw UNION ALL SELECT b FROM raw) GROUP BY id),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.a ELSE r.b END AS src,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN r.b ELSE r.a END AS dst,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND r.a < r.b)
              THEN db.deg ELSE da.deg END AS sd
  FROM raw r
  JOIN deg da ON da.id = r.a
  JOIN deg db ON db.id = r.b),
c AS (
  SELECT * FROM o
  WHERE ('0x' || substr(md5('8:' || CAST(src AS VARCHAR)), 1, 15))::BIGINT % 5 = 0),
wedge AS (
  SELECT x.src AS u, x.dst AS v, y.dst AS w
  FROM c x JOIN c y
    ON x.src = y.src
   AND (x.sd < y.sd OR (x.sd = y.sd AND x.dst < y.dst))),
tri AS (
  SELECT u, v, w FROM wedge
  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wedge.v AND o.dst = wedge.w))
SELECT CAST(5 AS BIGINT) AS rate_den,
       CAST(count(*) AS BIGINT) AS sampled_triangles,
       CAST(count(*) * 5 AS BIGINT) AS est_triangles
FROM tri
"""


def q_communities(spark, sf_dir):
    """Community detection (operators/graph.py:label_propagation) over
    the sliced co-purchase graph of q_triangles/q_kcore: two
    synchronous min-tiebreak label-propagation rounds assign every part
    the smallest id of its densest neighborhood — the mesoscale
    template-family view between components ("connected at all") and
    k-core ("mutually dense").  Deterministic by construction
    (synchronous rounds, min-label ties), so the oracle unrolls both
    rounds relationally — the sixth unrolled-iteration oracle after
    pagerank/kmeans/components/kcore.  Edges ride the max_basket=64
    guard."""
    from npm_mirror_spark.operators.graph import basket_pairs, label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return label_propagation(edges, n_rounds=2).orderBy("id")


# q_communities: both synchronous label-propagation rounds unrolled —
# neighbor-label messages, (node, label) counts, argmax with the
# count-desc/label-asc total order, isolated-node coalesce.
_COMMUNITIES_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
adj AS (SELECT a AS u, b AS v FROM raw UNION ALL SELECT b, a FROM raw),
n AS (SELECT DISTINCT u AS id FROM adj),
l0 AS (SELECT id, id AS label FROM n),
c1 AS (
  SELECT adj.u, l0.label, count(*) AS c
  FROM adj JOIN l0 ON l0.id = adj.v GROUP BY 1, 2),
b1 AS (
  SELECT u, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
    FROM c1) WHERE rn = 1),
l1 AS (
  SELECT n.id, coalesce(b1.label, n.id) AS label
  FROM n LEFT JOIN b1 ON b1.u = n.id),
c2 AS (
  SELECT adj.u, l1.label, count(*) AS c
  FROM adj JOIN l1 ON l1.id = adj.v GROUP BY 1, 2),
b2 AS (
  SELECT u, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
    FROM c2) WHERE rn = 1),
l2 AS (
  SELECT n.id, coalesce(b2.label, n.id) AS label
  FROM n LEFT JOIN b2 ON b2.u = n.id)
SELECT id, label FROM l2 ORDER BY id
"""


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.py:hits) over the
    dup-ATTRIBUTION arc graph (each MinHash candidate pair is one arc
    copy→original, the q_pagerank_directed construction): authorities
    are the originals many copies point at, hubs the docs that copy
    from many originals — a finer curation signal than PageRank's
    single score because the two roles separate.  Unnormalized integer
    iteration (the normalizer is a global scalar, rankings unchanged),
    so the two unrolled rounds replay bit-for-bit in the oracle;
    DECIMAL(38,0) accumulation, double face per the no-decimal
    contract."""
    from npm_mirror_spark.operators.graph import hits

    arcs = dedup_ops.minhash_candidate_pairs(
        docs_with_dups(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    ).select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    return nodec(hits(arcs, n_iter=2).orderBy("id"))


# q_hits: two unrolled HITS rounds over the attribution arcs — sparse
# per-round sums (a node absent from a round table contributes 0),
# zero-filled dense report, VARCHAR-routed exact HUGEINT scores.
_HITS_SQL = f"""
WITH {MINHASH_EDGES},
arcs AS (SELECT DISTINCT id_b AS src, id_a AS dst FROM edges),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM arcs UNION ALL SELECT dst FROM arcs)),
a0 AS (SELECT id, CAST(1 AS HUGEINT) AS auth FROM nodes),
h1 AS (
  SELECT arcs.src AS id, sum(a0.auth) AS hub
  FROM arcs JOIN a0 ON a0.id = arcs.dst GROUP BY 1),
a1 AS (
  SELECT arcs.dst AS id, sum(h1.hub) AS auth
  FROM arcs JOIN h1 ON h1.id = arcs.src GROUP BY 1),
h2 AS (
  SELECT arcs.src AS id, sum(a1.auth) AS hub
  FROM arcs JOIN a1 ON a1.id = arcs.dst GROUP BY 1),
a2 AS (
  SELECT arcs.dst AS id, sum(h2.hub) AS auth
  FROM arcs JOIN h2 ON h2.id = arcs.src GROUP BY 1)
SELECT n.id,
       CAST(CAST(coalesce(a2.auth, 0) AS VARCHAR) AS DOUBLE) AS auth,
       CAST(CAST(coalesce(h2.hub, 0) AS VARCHAR) AS DOUBLE) AS hub
FROM nodes n
LEFT JOIN a2 ON a2.id = n.id
LEFT JOIN h2 ON h2.id = n.id
ORDER BY n.id
"""


def q_bfs_hops(spark, sf_dir):
    """Multi-source BFS (operators/graph.py:bfs_hops) over the sliced
    co-purchase graph (the q_triangles edge discipline): minimum hop
    distance ≤ 3 from the deterministic seed set (every 97th part) —
    the bounded-depth blast-radius primitive (who is within k dup-hops
    of a flagged node?).  Level-synchronous frontier rounds, one
    |edges| equi-join + distinct + anti-join per hop; the oracle
    unrolls the three rounds relationally.  Exact integers."""
    from npm_mirror_spark.operators.graph import basket_pairs, bfs_hops

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    seeds = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 97 == 0)
        .select("p_partkey")
    )
    return bfs_hops(edges, seeds, max_hops=3).orderBy("id")


# q_bfs_hops: three unrolled frontier rounds over the sliced
# co-purchase graph; first-discovery = min hop by construction.
_BFS_HOPS_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
und AS (
  SELECT a AS src, b AS dst FROM raw
  UNION ALL SELECT b AS src, a AS dst FROM raw),
v0 AS (
  SELECT p_partkey AS id, CAST(0 AS INTEGER) AS hop
  FROM part WHERE p_partkey % 97 = 0),
n1 AS (
  SELECT DISTINCT u.dst AS id, CAST(1 AS INTEGER) AS hop
  FROM und u JOIN v0 ON v0.id = u.src
  WHERE u.dst NOT IN (SELECT id FROM v0)),
v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM n1),
n2 AS (
  SELECT DISTINCT u.dst AS id, CAST(2 AS INTEGER) AS hop
  FROM und u JOIN n1 ON n1.id = u.src
  WHERE u.dst NOT IN (SELECT id FROM v1)),
v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM n2),
n3 AS (
  SELECT DISTINCT u.dst AS id, CAST(3 AS INTEGER) AS hop
  FROM und u JOIN n2 ON n2.id = u.src
  WHERE u.dst NOT IN (SELECT id FROM v2))
SELECT * FROM v2 UNION ALL SELECT * FROM n3
ORDER BY id
"""


def q_link_pred(spark, sf_dir):
    """Common-neighbor link prediction
    (operators/graph.py:common_neighbor_scores) on the sliced
    co-purchase graph: non-adjacent part pairs sharing ≥ 2 co-purchase
    neighbors, with the neighborhood Jaccard — "frequently bought with
    the same things, never together" (Liben-Nowell & Kleinberg '03).
    Center-keyed wedge equi-join (repartitioned on the center — the
    basket_pairs exchange discipline), anti join against the edge set,
    exact counts + one IEEE division."""
    from npm_mirror_spark.operators.graph import (
        basket_pairs,
        common_neighbor_scores,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return common_neighbor_scores(edges, min_common=2).orderBy("u", "w")


# q_link_pred: center wedge self-join, NOT EXISTS against the edge
# set, exact common counts + degree Jaccard.
_LINK_PRED_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
adj AS (
  SELECT a AS c, b AS n FROM raw
  UNION ALL SELECT b AS c, a AS n FROM raw),
deg AS (SELECT c AS id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
cn AS (
  SELECT x.n AS u, y.n AS w, CAST(count(*) AS BIGINT) AS common
  FROM adj x JOIN adj y ON x.c = y.c AND x.n < y.n
  GROUP BY 1, 2),
cand AS (
  SELECT * FROM cn
  WHERE common >= 2
    AND NOT EXISTS (SELECT 1 FROM raw WHERE raw.a = cn.u AND raw.b = cn.w))
SELECT cand.u, cand.w, cand.common,
       du.deg AS deg_u, dw.deg AS deg_w,
       CAST(cand.common AS DOUBLE)
         / CAST(du.deg + dw.deg - cand.common AS DOUBLE) AS jaccard
FROM cand
JOIN deg du ON du.id = cand.u
JOIN deg dw ON dw.id = cand.w
ORDER BY cand.u, cand.w
"""


def q_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graph.py:degree_assortativity)
    of the sliced co-purchase graph: the sqrt-free Pearson r between
    edge-endpoint degrees (Newman '02) — one number separating
    hub-attaches-to-hub structure (r > 0) from hub-and-spoke
    boilerplate stars (r < 0).  Two node-sized degree joins + one
    4-column moment fold; both orientations make the moment sums
    symmetric, so r needs no sqrt: exact DECIMAL(38,0) num/den, one
    IEEE division."""
    from npm_mirror_spark.operators.graph import (
        basket_pairs,
        degree_assortativity,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") % 5 == 2)
    )
    edges = basket_pairs(li, "l_orderkey", "l_partkey", max_basket=64)
    return nodec(degree_assortativity(edges))


# q_assortativity: exact HUGEINT moments over both edge orientations;
# the symmetry (Σx = Σy, Σx² = Σy²) removes the sqrt from Pearson r.
_ASSORTATIVITY_SQL = """
WITH raw AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  WHERE x.l_orderkey % 5 = 2),
adj AS (
  SELECT a AS c, b AS n FROM raw
  UNION ALL SELECT b AS c, a AS n FROM raw),
deg AS (SELECT c AS id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
ends AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM raw JOIN deg da ON da.id = raw.a JOIN deg db ON db.id = raw.b
  UNION ALL
  SELECT db.deg, da.deg
  FROM raw JOIN deg da ON da.id = raw.a JOIN deg db ON db.id = raw.b),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
         sum(CAST(dx AS HUGEINT)) AS s_x,
         sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS s_xy,
         sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS s_xx
  FROM ends)
SELECT CAST(n_endpoints / 2 AS BIGINT) AS m_edges, n_endpoints,
       CAST(CAST(s_x AS VARCHAR) AS DOUBLE) AS s_x,
       CAST(CAST(s_xy AS VARCHAR) AS DOUBLE) AS s_xy,
       CAST(CAST(s_xx AS VARCHAR) AS DOUBLE) AS s_xx,
       CAST(CAST(CAST(n_endpoints AS HUGEINT) * s_xy - s_x * s_x AS VARCHAR)
            AS DOUBLE)
         / CAST(CAST(CAST(n_endpoints AS HUGEINT) * s_xx - s_x * s_x
                     AS VARCHAR) AS DOUBLE) AS r
FROM m
"""
