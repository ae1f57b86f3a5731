"""Faces built on ``operators/graph.py``: reciprocity, transitivity and
partition-quality scores of the co-purchase graph, each next to its
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.faces import Face
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
    from pyspark.sql import Window

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


#: (name, face, oracle, staged) — ``faces.ORDER`` sets the sequence.
FACES = (
    Face("q_transitivity", q_transitivity, _transitivity_oracle, True),
    Face("q_reciprocity", q_reciprocity, _RECIPROCITY_SQL, True),
    Face("q_modularity", q_modularity, _modularity_oracle, True),
    Face("q_conductance", q_conductance, _conductance_oracle, True),
    Face("q_attr_assortativity", q_attr_assortativity, _ATTR_ASSORTATIVITY_SQL, True),
    Face("q_rich_club", q_rich_club, _RICH_CLUB_SQL, True),
)
