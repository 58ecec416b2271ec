package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-bound Gelly queries (round 4): the graph library operators
  * (`GraphOps`) run against a DETERMINISTIC co-purchase graph derived
  * from the TPC-H tables and checked value-for-value against DuckDB
  * (triangle closure, Jaccard counts, recursive-CTE BFS) — upgrading
  * triangle count / Jaccard / SSSP from spec-only to oracle-checked,
  * the same treatment q83 gave Summarization.
  *
  * The graph: parts co-occurring in a 1997 order are connected
  * (canonical src < dst, deduplicated). Scale: the pair generator
  * self-joins lineitem ON ORDERKEY — pairs per order are bounded by
  * lines-per-order² (a catalog constant ≤ ~7² ≈ 21, not data-sized),
  * and the join is co-located after one shuffle on orderkey. ~18k
  * edges over ~1.8k vertices at sf0.01.
  */
object GraphQueries extends QuerySet {

  /** The orders a co-purchase graph is built from: a Spark filter and
    * its DuckDB twin. */
  private case class OrderWindow(filter: Column, sql: String)

  /** The year graph. */
  private val year1997 =
    OrderWindow(year(col("o_orderdate")) === 1997, "year(o_orderdate) = 1997")

  /** The sparser January graph (q124, q126, q176). */
  private val january1997 = OrderWindow(
    col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1997-02-01").cast("timestamp"),
    """o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-02-01'""".stripMargin)

  /** Canonical co-purchase edges (src < dst, distinct) of the parts
    * co-occurring in an order of `window`. */
  private def coPurchaseEdges(s: SparkSession, d: String,
                              window: OrderWindow = year1997): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(window.filter)
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  // oracle-side twin of coPurchaseEdges
  private def edCte(window: OrderWindow = year1997) =
    s"""WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE ${window.sql}),
      |ed AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |   AND a.l_partkey < b.l_partkey)""".stripMargin

  val queries: Map[String, Q] = Map(
    // Gelly TriangleEnumerator/TriangleCount (library/TriangleEnumerator
    // .java): per-vertex triangle membership via the wedge join —
    // one self-join on the smaller endpoint + one closure probe, no
    // iteration, no enumeration of non-closing wedges downstream.
    "q121_graph_triangles" -> ((s, d) =>
      GraphOps.triangleCounts(coPurchaseEdges(s, d))
        .orderBy(col("id"))),

    // Gelly LocalClusteringCoefficient (library/clustering/undirected/
    // LocalClusteringCoefficient.java): closed-wedge fraction per
    // vertex as exact integer ppm (2e6·tri // deg·(deg−1)).
    "q229_graph_lcc" -> ((s, d) =>
      GraphOps.localClusteringCoefficient(coPurchaseEdges(s, d))
        .orderBy(col("id"))),

    // Gelly VertexMetrics/EdgeMetrics + global clustering coefficient
    // (library/metric/undirected/): one exact-integer summary row.
    "q232_graph_metrics" -> ((s, d) =>
      GraphOps.graphMetrics(coPurchaseEdges(s, d))),

    // Gelly AdamicAdar (library/similarity/AdamicAdar.java), log2-
    // quantized to integers; pairs with ≥3 common neighbors (the
    // link-prediction shortlist — bounds the output like q122's
    // jaccard ≥ 0.25 cut).
    "q230_graph_adamic_adar" -> ((s, d) =>
      GraphOps.adamicAdar(coPurchaseEdges(s, d))
        .filter(col("co") >= 3)
        .orderBy(col("u"), col("v"))),

    // Gelly JaccardIndex (library/similarity/JaccardIndex.java):
    // neighborhood similarity from per-vertex posting lists —
    // candidate pairs only where a common neighbor exists, never
    // all-pairs. Output as round(jaccard, 6) for repr parity.
    "q122_graph_jaccard" -> ((s, d) =>
      GraphOps.jaccardSimilarity(coPurchaseEdges(s, d))
        .filter(col("jaccard") >= 0.25)
        .select(col("u"), col("v"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("u"), col("v"))),

    // Gelly ConnectedComponents (library/ConnectedComponents.java) as
    // the workset-driven delta iteration, on the SPARSER January-1997
    // graph (584 vertices, 72 components — the year graph collapses
    // to one giant component). Oracle = recursive reachability
    // closure + min per vertex.
    "q124_graph_cc" -> ((s, d) => {
      val ed = coPurchaseEdges(s, d, january1997)
      val vertices = ed.select(col("src").as("id"))
        .union(ed.select(col("dst").as("id"))).distinct()
      GraphOps.connectedComponents(vertices, ed, maxIter = 30)
        .orderBy(col("id"))
    }),

    // Gelly PageRank (library/PageRank.java): 5 fixed supersteps,
    // damping 0.85, on the bidirected year graph (no dangling
    // vertices — every vertex has an edge, so the dangling-mass term
    // is exactly zero on both sides). Oracle = the 5 iterations
    // UNROLLED as chained CTEs; ranks land as integer e9 to keep the
    // hash compare off raw float repr.
    "q125_graph_pagerank" -> ((s, d) => {
      val ed = coPurchaseEdges(s, d)
      val bidir = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
      val vertices = bidir.select(col("src").as("id")).distinct()
      GraphOps.pageRank(vertices, bidir, iters = 5, damping = 0.85)
        .select(col("id"),
          expr("cast(round(rank * 1000000000) as bigint)").as("rank_e9"))
        .orderBy(col("id"))
    }),

    // Gelly LabelPropagation (library/LabelPropagation.java): 3 fixed
    // supersteps on the January graph, each vertex adopting its
    // neighbors' most frequent label with ties to the SMALLEST label
    // — deterministic, so the oracle unrolls the supersteps as CTEs,
    // encoding the (freq, smallest-label) preference as the single
    // sortable key f·1e7 − label (labels ≪ 1e7).
    "q126_graph_lpa" -> ((s, d) => {
      val ed = coPurchaseEdges(s, d, january1997)
      val vertices = ed.select(col("src").as("id"))
        .union(ed.select(col("dst").as("id"))).distinct()
      GraphOps.labelPropagation(vertices, ed, iters = 3)
        .orderBy(col("id"))
    }),

    // Gelly HITS (library/linkanalysis/HITS.java): 3 hub/authority
    // supersteps with L2 normalization on the DIRECTED canonical
    // graph (src < dst, so low part ids are pure hubs — auth 0 — a
    // real directed-graph asymmetry). Oracle = the supersteps
    // unrolled as MATERIALIZED CTEs (plain CTEs re-inline the whole
    // chain per reference — exponential), scores as integer e9.
    "q127_graph_hits" -> ((s, d) =>
      GraphOps.hits(coPurchaseEdges(s, d), iters = 3)
        .select(col("id"),
          expr("cast(round(hub * 1000000000) as bigint)").as("hub_e9"),
          expr("cast(round(auth * 1000000000) as bigint)").as("auth_e9"))
        .orderBy(col("id"))),

    // Gelly LocalClusteringCoefficient (library/clustering/
    // undirected/LocalClusteringCoefficient.java): triangles(v) over
    // possible neighbor pairs — non-iterative, one wedge join + one
    // degree count. Coefficient emitted as ppm (integral div) for
    // repr parity.
    "q128_graph_clustering" -> ((s, d) =>
      GraphOps.clusteringCoefficient(coPurchaseEdges(s, d))
        .select(col("id"), col("degree"), col("n_triangles"),
          expr("cast(case when degree < 2 then 0 else " +
            "(cast(n_triangles as decimal(38,0)) * 2000000) div " +
            "(degree * (degree - 1)) end as bigint)").as("coeff_ppm"))
        .orderBy(col("id"))),

    // Gelly SingleSourceShortestPaths (library/
    // SingleSourceShortestPaths.java) on unit weights = BFS depth:
    // workset-driven delta iteration (Iterate.delta — only vertices
    // whose distance improved relax their edges next superstep).
    // Oracle = recursive-CTE closure with min-per-vertex.
    "q123_graph_sssp" -> ((s, d) => {
      val ed = coPurchaseEdges(s, d)
      val bidir = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        .withColumn("weight", lit(1.0))
      val vertices = bidir.select(col("src").as("id")).distinct()
      // bounded driver action: one scalar (the smallest part id)
      val source = ed.agg(min(col("src"))).head().getLong(0)
      GraphOps.shortestPaths(vertices, bidir, source, maxIter = 20)
        .orderBy(col("id"))
    }),

    // SSSP re-expressed on the PULL-based Gather-Sum-Apply surface
    // (gsa/GatherSumApplyIteration.java:59 — the reference's own GSA
    // flagship, library/GSASingleSourceShortestPaths.java): gather =
    // neighbor dist + weight per edge, sum = min, apply = keep the
    // smaller. Same graph, same source, same oracle as q123 — the
    // third iteration abstraction must land on the identical closure.
    "q175_gsa_sssp" -> ((s, d) => {
      val ed = coPurchaseEdges(s, d)
      val bidir = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        .withColumn("weight", lit(1.0))
      val vertices = bidir.select(col("src").as("id")).distinct()
      val source = ed.agg(min(col("src"))).head().getLong(0)
      val init = vertices.select(col("id"),
        when(col("id") === source, 0.0).as("dist"))
      Gsa.run(init, bidir, "dist", maxIter = 20)(
        gather = col("nbr_dist") + col("weight"),
        sum = ms => min(ms),
        apply = (cur, m) => when(cur.isNull || m < cur, m).otherwise(cur))
        .filter(col("dist").isNotNull)
        .orderBy(col("id"))
    }),

    // Connected components re-expressed on the scatter-gather surface
    // (spargel/ScatterGatherIteration.java:76 — the reference's own
    // spargel flagship, library/ConnectedComponents.java runs on it):
    // scatter the label along edges, combine = min, gather adopts a
    // smaller label. Same January graph, same oracle as q124.
    "q176_sg_cc" -> ((s, d) => {
      val ed = coPurchaseEdges(s, d, january1997)
      val bidir = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
      val vertices = bidir.select(col("src").as("id")).distinct()
      val init = vertices.select(col("id"), col("id").as("component"))
      ScatterGather.run(init, bidir, "component", maxIter = 30)(
        scatter = col("src_component"),
        combine = ms => min(ms),
        gather = (cur, m) => when(m < cur, m).otherwise(cur))
        .orderBy(col("id"))
    })
  )

  /** q124's BFS closure over the January graph (also q176's oracle). */
  private val januaryCcSql = edCte(january1997) +
    """,
      |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed)
      |SELECT id, min(reach) AS component FROM (
      |  WITH RECURSIVE r(id, reach) AS (
      |    SELECT src, src FROM (SELECT DISTINCT src FROM bidir)
      |    UNION
      |    SELECT r.id, e.dst FROM r JOIN bidir e ON e.src = r.reach)
      |  SELECT id, reach FROM r)
      |GROUP BY id ORDER BY id""".stripMargin

  /** q123's unit-weight SSSP closure over the year graph (also q175's
    * oracle). */
  private val ssspSql = edCte() +
    """,
      |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
      |s AS (SELECT min(src) AS sid FROM ed)
      |SELECT id, min(dist)::DOUBLE AS dist FROM (
      |  WITH RECURSIVE d(id, dist) AS (
      |    SELECT sid, 0 FROM s
      |    UNION
      |    SELECT e.dst, d.dist + 1
      |    FROM d JOIN bidir e ON e.src = d.id WHERE d.dist < 20)
      |  SELECT id, dist FROM d)
      |GROUP BY id ORDER BY id""".stripMargin

  /** [[edCte]] of the year graph plus its triangles (a, b, c),
    * a < b < c. */
  private val edTriCtes = edCte() +
    """,
      |tri AS (
      |  SELECT w.a, w.b, w.c FROM
      |    (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |     FROM ed e1 JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst) w
      |  JOIN ed e3 ON w.b = e3.src AND w.c = e3.dst)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q121_graph_triangles" -> (edTriCtes +
      """
        |SELECT id, count(*) AS n_triangles FROM (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY id ORDER BY id""".stripMargin),
    "q229_graph_lcc" -> (edTriCtes +
      """,
        |tc AS (
        |  SELECT id, count(*) AS tri FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY id),
        |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        |deg AS (SELECT src AS id, count(*) AS deg FROM bidir GROUP BY 1)
        |SELECT id, deg, coalesce(tc.tri, 0) AS tri,
        |  CASE WHEN deg >= 2
        |       THEN (2000000 * coalesce(tc.tri, 0)) // (deg * (deg - 1))
        |       ELSE 0 END AS lcc_ppm
        |FROM deg LEFT JOIN tc USING (id) ORDER BY id""".stripMargin),
    "q232_graph_metrics" -> (edCte() +
      """,
        |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        |deg AS (SELECT src AS id, count(*) AS deg FROM bidir GROUP BY 1),
        |tri AS (
        |  SELECT count(*)::BIGINT AS n_triangles FROM
        |    (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |     FROM ed e1 JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst) w
        |  JOIN ed e3 ON w.b = e3.src AND w.c = e3.dst),
        |dm AS (
        |  SELECT count(*) AS n_vertices,
        |    (sum(deg) // 2)::BIGINT AS n_edges,
        |    max(deg)::BIGINT AS max_degree, min(deg)::BIGINT AS min_degree,
        |    sum(deg * (deg - 1) // 2)::BIGINT AS n_wedges
        |  FROM deg)
        |SELECT n_vertices, n_edges, max_degree, min_degree, n_wedges,
        |  n_triangles,
        |  (2000 * n_edges) // n_vertices AS avg_degree_milli,
        |  (3000000 * n_triangles) // greatest(n_wedges, 1) AS gcc_ppm
        |FROM dm, tri""".stripMargin),
    "q230_graph_adamic_adar" -> (edCte() +
      """,
        |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        |degz AS (SELECT src AS z, count(*) AS dz FROM bidir GROUP BY 1),
        |co AS (
        |  SELECT n1.dst AS u, n2.dst AS v, n1.src AS z
        |  FROM bidir n1 JOIN bidir n2
        |    ON n1.src = n2.src AND n1.dst < n2.dst)
        |SELECT u, v, count(*) AS co,
        |  sum(1000000 // (length(bin(dz)) - 1))::BIGINT AS aa_e6
        |FROM co JOIN degz USING (z) WHERE dz >= 2
        |GROUP BY u, v HAVING count(*) >= 3
        |ORDER BY u, v""".stripMargin),
    "q122_graph_jaccard" -> (edCte() +
      """,
        |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        |deg AS (SELECT src AS id, count(*) AS deg FROM bidir GROUP BY 1),
        |co AS (
        |  SELECT n1.dst AS u, n2.dst AS v, count(*) AS co
        |  FROM bidir n1 JOIN bidir n2
        |    ON n1.src = n2.src AND n1.dst < n2.dst
        |  GROUP BY 1, 2)
        |SELECT u, v, round(co::DOUBLE / (du.deg + dv.deg - co), 6) AS jaccard
        |FROM co JOIN deg du ON u = du.id JOIN deg dv ON v = dv.id
        |WHERE co::DOUBLE / (du.deg + dv.deg - co) >= 0.25
        |ORDER BY u, v""".stripMargin),
    "q124_graph_cc" -> januaryCcSql,
    "q125_graph_pagerank" -> (edCte() +
      """,
        |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        |deg AS (SELECT src AS id, count(*) AS deg FROM bidir GROUP BY 1),
        |verts AS (SELECT DISTINCT src AS id FROM bidir),
        |nv AS (SELECT count(*)::DOUBLE AS n FROM verts),
        |r0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS rank FROM verts),
        |r1 AS (SELECT v.id, (1.0-0.85)/(SELECT n FROM nv)
        |         + 0.85*coalesce(s.c, 0) AS rank
        |       FROM verts v LEFT JOIN (
        |         SELECT e.dst AS id, sum(r.rank/d.deg) AS c
        |         FROM bidir e JOIN r0 r ON e.src = r.id
        |         JOIN deg d ON d.id = e.src GROUP BY e.dst) s ON v.id = s.id),
        |r2 AS (SELECT v.id, (1.0-0.85)/(SELECT n FROM nv)
        |         + 0.85*coalesce(s.c, 0) AS rank
        |       FROM verts v LEFT JOIN (
        |         SELECT e.dst AS id, sum(r.rank/d.deg) AS c
        |         FROM bidir e JOIN r1 r ON e.src = r.id
        |         JOIN deg d ON d.id = e.src GROUP BY e.dst) s ON v.id = s.id),
        |r3 AS (SELECT v.id, (1.0-0.85)/(SELECT n FROM nv)
        |         + 0.85*coalesce(s.c, 0) AS rank
        |       FROM verts v LEFT JOIN (
        |         SELECT e.dst AS id, sum(r.rank/d.deg) AS c
        |         FROM bidir e JOIN r2 r ON e.src = r.id
        |         JOIN deg d ON d.id = e.src GROUP BY e.dst) s ON v.id = s.id),
        |r4 AS (SELECT v.id, (1.0-0.85)/(SELECT n FROM nv)
        |         + 0.85*coalesce(s.c, 0) AS rank
        |       FROM verts v LEFT JOIN (
        |         SELECT e.dst AS id, sum(r.rank/d.deg) AS c
        |         FROM bidir e JOIN r3 r ON e.src = r.id
        |         JOIN deg d ON d.id = e.src GROUP BY e.dst) s ON v.id = s.id),
        |r5 AS (SELECT v.id, (1.0-0.85)/(SELECT n FROM nv)
        |         + 0.85*coalesce(s.c, 0) AS rank
        |       FROM verts v LEFT JOIN (
        |         SELECT e.dst AS id, sum(r.rank/d.deg) AS c
        |         FROM bidir e JOIN r4 r ON e.src = r.id
        |         JOIN deg d ON d.id = e.src GROUP BY e.dst) s ON v.id = s.id)
        |SELECT id, CAST(round(rank*1000000000) AS BIGINT) AS rank_e9
        |FROM r5 ORDER BY id""".stripMargin),
    "q126_graph_lpa" -> (edCte(january1997) +
      """,
        |bidir AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM bidir),
        |l1 AS (
        |  SELECT v.id, coalesce(t.nl, v.label) AS label
        |  FROM l0 v LEFT JOIN (
        |    SELECT id, arg_max(label, f*10000000 - label) AS nl FROM (
        |      SELECT e.dst AS id, l.label, count(*) AS f
        |      FROM bidir e JOIN l0 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) GROUP BY id) t ON v.id = t.id),
        |l2 AS (
        |  SELECT v.id, coalesce(t.nl, v.label) AS label
        |  FROM l1 v LEFT JOIN (
        |    SELECT id, arg_max(label, f*10000000 - label) AS nl FROM (
        |      SELECT e.dst AS id, l.label, count(*) AS f
        |      FROM bidir e JOIN l1 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) GROUP BY id) t ON v.id = t.id),
        |l3 AS (
        |  SELECT v.id, coalesce(t.nl, v.label) AS label
        |  FROM l2 v LEFT JOIN (
        |    SELECT id, arg_max(label, f*10000000 - label) AS nl FROM (
        |      SELECT e.dst AS id, l.label, count(*) AS f
        |      FROM bidir e JOIN l2 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) GROUP BY id) t ON v.id = t.id)
        |SELECT id, label FROM l3 ORDER BY id""".stripMargin),
    "q127_graph_hits" -> {
      val iter = (k: Int) => {
        val p = k - 1
        s"""a${k}r AS MATERIALIZED (SELECT e.dst AS id, sum(s.hub) AS a
           |  FROM ed e JOIN s$p s ON e.src = s.id GROUP BY e.dst),
           |a${k}n AS MATERIALIZED (SELECT sqrt(sum(a*a)) AS v FROM a${k}r),
           |a$k AS MATERIALIZED (
           |  SELECT v.id, coalesce(r.a, 0)/(SELECT v FROM a${k}n) AS auth
           |  FROM verts v LEFT JOIN a${k}r r ON v.id = r.id),
           |h${k}r AS MATERIALIZED (SELECT e.src AS id, sum(a.auth) AS h
           |  FROM ed e JOIN a$k a ON e.dst = a.id GROUP BY e.src),
           |h${k}n AS MATERIALIZED (SELECT sqrt(sum(h*h)) AS v FROM h${k}r),
           |s$k AS MATERIALIZED (
           |  SELECT v.id, coalesce(r.h, 0)/(SELECT v FROM h${k}n) AS hub,
           |         a$k.auth
           |  FROM verts v LEFT JOIN h${k}r r ON v.id = r.id
           |  JOIN a$k ON v.id = a$k.id)""".stripMargin
      }
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) = 1997),
        |ed AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey),
        |verts AS MATERIALIZED (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
        |s0 AS MATERIALIZED (SELECT id, 1.0 AS hub, 1.0 AS auth FROM verts),
        |""".stripMargin + Seq(1, 2, 3).map(iter).mkString(",\n") + """
        |SELECT id, CAST(round(hub*1000000000) AS BIGINT) AS hub_e9,
        |       CAST(round(auth*1000000000) AS BIGINT) AS auth_e9
        |FROM s3 ORDER BY id""".stripMargin
    },
    "q128_graph_clustering" -> (edTriCtes +
      """,
        |tcnt AS (
        |  SELECT id, count(*) AS n_triangles FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY id),
        |deg AS (
        |  SELECT id, count(*) AS degree FROM (
        |    SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed)
        |  GROUP BY id)
        |SELECT deg.id, degree,
        |  coalesce(n_triangles, 0) AS n_triangles,
        |  CASE WHEN degree < 2 THEN 0
        |       ELSE (coalesce(n_triangles, 0) * 2000000
        |             // (degree * (degree - 1)))::BIGINT END AS coeff_ppm
        |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id
        |ORDER BY deg.id""".stripMargin),
    "q123_graph_sssp" -> ssspSql,
    // q175 = the q123 closure verbatim (GSA must land on the same
    // distances); q176 = the q124 closure verbatim (scatter-gather
    // must land on the same components)
    "q175_gsa_sssp" -> ssspSql,
    "q176_sg_cc" -> januaryCcSql
  )
}
