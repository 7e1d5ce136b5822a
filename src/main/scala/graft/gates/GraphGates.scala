package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.gen.OracleCte.{D8Cte, DemCte, ProximityOn, SimgCte, images => I}

/** The graph gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object GraphGates {

  /** Peel-round cap shared by the q_kcore gate and its oracle mirror:
    * the Spark peel early-exits at the fixpoint; the oracle unrolls
    * exactly this many survivor CTEs, so results agree whenever the
    * fixture converges within the cap (asserted in GraphSpec). */
  private val KCoreRounds = 12

  /** Chained k-core survivor CTEs ks1..ksR: survivors of round r are
    * the nodes whose degree within round r−1's survivors is ≥ k —
    * the same synchronous peel KCore.kcore runs, unrolled. */
  private def kcorePeelSql(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      // MATERIALIZED: each round references the previous one TWICE —
      // DuckDB inlines plain CTEs, so without it the scan tree
      // doubles per round (2^rounds source scans; fd exhaustion)
      s"ks$r AS MATERIALIZED (SELECT e.src FROM kce e " +
        s"JOIN ks${r - 1} a ON a.src = e.src " +
        s"JOIN ks${r - 1} b ON b.src = e.dst " +
        s"GROUP BY e.src HAVING COUNT(*) >= $k)"
    }.mkString(",\n")

  /** Synchronous label-propagation rounds shared by the q_label_prop
    * gate and its oracle mirror (fixed rounds — the deterministic
    * distributed LPA variant; see [[graft.graph.LabelProp]]). */
  private val LabelPropRounds = 3

  /** Chained label-propagation CTEs lp1..lpR from lp0(v, lab) over
    * directed edges lpe(src, dst): per round, each node adopts the
    * most frequent neighbor label, ties → smallest label. */
  private def labelPropRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"lpv$r AS (SELECT e.dst AS v, l.lab, COUNT(*) AS c " +
        s"FROM lpe e JOIN lp${r - 1} l ON l.v = e.src GROUP BY 1, 2),\n" +
        s"lp$r AS MATERIALIZED (SELECT v, lab FROM (SELECT v, lab, " +
        s"ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rk " +
        s"FROM lpv$r) WHERE rk = 1)"
    }.mkString(",\n")

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // census transform popcount histogram (8-bit neighbor>center
    // codes over interior pixels)
    Gate("q_census", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("c", explode(graft.ops.Vision.censusAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("c._1").as("popcount"),
          col("c._2").as("cnt"))
        .orderBy("image_id", "popcount"),
      // 8-neighbor greater-than-center popcount per interior pixel,
      // histogrammed; empty popcount bins emit no row (both sides)
      Some(s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |cpc AS (SELECT c.k, c.image_id, c.x, c.y,
         |          SUM(CASE WHEN n.z > c.z THEN 1 ELSE 0 END) AS pc
         |        FROM demp c JOIN d8 d ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |          AND n.y = c.y + d.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY c.k, c.image_id, c.x, c.y, c.z)
         |SELECT image_id, CAST(pc AS BIGINT) AS popcount,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM cpc GROUP BY 1, 2 ORDER BY image_id, popcount""".stripMargin)),

    // triangle census of the within-distance proximity graph over
    // ALL image footprints (cell-gridded edge join + degree-ordered
    // orientation — never all-pairs; the oracle IS all-pairs)
    Gate("q_triangles", (s, dir) =>
      graft.ops.SpatialJoin.triangleCensus(Synth.images(s, dir), 3000L),
      // all-pairs proximity edges + 3-way join triangles (the oracle
      // may be quadratic; the engine may not)
      Some(s"""WITH $I,
         |tre AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |ttr AS (SELECT e1.ka AS a, e1.kb AS b, e2.kb AS c
         |        FROM tre e1 JOIN tre e2 ON e2.ka = e1.ka
         |          AND e2.kb > e1.kb
         |        JOIN tre e3 ON e3.ka = e1.kb AND e3.kb = e2.kb)
         |SELECT CAST((SELECT COUNT(*) FROM tre) AS BIGINT) AS n_edges,
         |  CAST(COUNT(*) AS BIGINT) AS n_triangles,
         |  CAST(COALESCE(SUM(a + b + c), 0) AS BIGINT) AS chk
         |FROM ttr""".stripMargin)),

    // exact-integer PageRank (3 rounds, scale 10^6, damping as
    // 15/85-div-100 integer ops) over the SAME proximity graph —
    // per-round: one edge⋈rank equi-join + one map-side-combined
    // destination sum; the oracle unrolls the rounds as CTEs
    Gate("q_pagerank", (s, dir) =>
      graft.graph.PageRank.pagerankInt(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          3)
        .orderBy("v"),
      // integer PageRank ground truth: the same rect-overlap edge set,
      // both directions, 3 unrolled rounds of
      // pr' = 150000 + (85 · Σ (pr // deg)) // 100 at scale 10^6
      Some(s"""WITH $I,
         |pg0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |pge AS (SELECT ka AS src, kb AS dst FROM pg0
         |        UNION ALL SELECT kb, ka FROM pg0),
         |pgd AS (SELECT src, COUNT(*) AS deg FROM pge GROUP BY 1),
         |pr0 AS (SELECT src AS nd, CAST(1000000 AS BIGINT) AS pr
         |        FROM pgd),
         |pc1 AS (SELECT e.dst AS nd, SUM(p.pr // d.deg) AS s
         |        FROM pge e JOIN pr0 p ON p.nd = e.src
         |        JOIN pgd d ON d.src = e.src GROUP BY 1),
         |pr1 AS (SELECT p.nd,
         |          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
         |            AS BIGINT) AS pr
         |        FROM pr0 p LEFT JOIN pc1 c ON c.nd = p.nd),
         |pc2 AS (SELECT e.dst AS nd, SUM(p.pr // d.deg) AS s
         |        FROM pge e JOIN pr1 p ON p.nd = e.src
         |        JOIN pgd d ON d.src = e.src GROUP BY 1),
         |pr2 AS (SELECT p.nd,
         |          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
         |            AS BIGINT) AS pr
         |        FROM pr1 p LEFT JOIN pc2 c ON c.nd = p.nd),
         |pc3 AS (SELECT e.dst AS nd, SUM(p.pr // d.deg) AS s
         |        FROM pge e JOIN pr2 p ON p.nd = e.src
         |        JOIN pgd d ON d.src = e.src GROUP BY 1),
         |pr3 AS (SELECT p.nd,
         |          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
         |            AS BIGINT) AS pr
         |        FROM pr2 p LEFT JOIN pc3 c ON c.nd = p.nd)
         |SELECT CAST(nd AS BIGINT) AS v, pr FROM pr3
         |ORDER BY 1""".stripMargin)),

    // 2-hop reach census over the proximity graph: per node the
    // direct degree n1 and the count of DISTINCT nodes reachable
    // in <=2 hops (self excluded) — one middle-vertex self-join
    Gate("q_two_hop", (s, dir) =>
      graft.ops.SpatialJoin.twoHopCensus(Synth.images(s, dir), 3000L)
        .orderBy("v"),
      // 2-hop reach ground truth: all-pairs padded-bbox edges (same
      // fixture as q_moran), symmetrized, one middle-vertex self-join,
      // distinct union with the direct edges, self excluded
      Some(s"""WITH $I,
         |the AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |thd AS (SELECT ka AS src, kb AS dst FROM the
         |        UNION ALL SELECT kb AS src, ka AS dst FROM the),
         |th1 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n1
         |        FROM thd GROUP BY 1),
         |th2 AS (SELECT DISTINCT src, dst FROM (
         |          SELECT a.src AS src, b.dst AS dst
         |          FROM thd a JOIN thd b ON b.src = a.dst
         |          WHERE a.src <> b.dst
         |          UNION ALL SELECT src, dst FROM thd) thu),
         |thc AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n2
         |        FROM th2 GROUP BY 1)
         |SELECT t.src AS v, t.n1, c.n2
         |FROM th1 t JOIN thc c ON c.src = t.src
         |ORDER BY v""".stripMargin)),

    // k-core (k=3) of the proximity graph: synchronous peel to the
    // fixpoint (monotone, one count-action per round); survivors with
    // their within-core degree. The oracle unrolls the same peel as
    // chained survivor CTEs — KCoreRounds in both places.
    Gate("q_kcore", (s, dir) =>
      graft.graph.KCore.kcore(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          3, KCoreRounds)
        .orderBy("v"),
      // k-core ground truth: all-pairs padded-bbox edges (same fixture
      // as q_two_hop), symmetrized, then the synchronous peel unrolled
      // as KCoreRounds chained survivor CTEs; final degree within the
      // last survivor set
      Some(s"""WITH $I,
         |kc0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |kce AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM kc0
         |        UNION ALL SELECT kb, ka FROM kc0),
         |ks0 AS MATERIALIZED (SELECT DISTINCT src FROM kce),
         |${kcorePeelSql(3, KCoreRounds)}
         |SELECT CAST(e.src AS BIGINT) AS v,
         |  CAST(COUNT(*) AS BIGINT) AS coredeg
         |FROM kce e JOIN ks$KCoreRounds a ON a.src = e.src
         |JOIN ks$KCoreRounds b ON b.src = e.dst
         |GROUP BY 1 HAVING COUNT(*) >= 3
         |ORDER BY 1""".stripMargin)),

    // community detection over the proximity graph: synchronous
    // label propagation, LabelPropRounds fixed rounds, most-frequent
    // neighbor label with ties -> smallest (total order, so the
    // result is partition-independent); per-round two-level aggregate
    // partial-aggregates map-side. The oracle unrolls the rounds.
    Gate("q_label_prop", (s, dir) =>
      graft.graph.LabelProp.labelProp(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          LabelPropRounds)
        .orderBy("v"),
      // label-propagation replay: same bbox-overlap edges, LabelPropRounds
      // unrolled vote rounds (count per (node, label), argmax by
      // (count desc, label asc) via ROW_NUMBER)
      Some(s"""WITH $I,
         |lq0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |lpe AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM lq0
         |        UNION ALL SELECT kb, ka FROM lq0),
         |lp0 AS (SELECT DISTINCT src AS v, src AS lab FROM lpe),
         |${labelPropRoundsSql(LabelPropRounds)}
         |SELECT CAST(v AS BIGINT) AS v, CAST(lab AS BIGINT) AS lab
         |FROM lp$LabelPropRounds ORDER BY 1""".stripMargin)),

    // link prediction over the proximity graph: top-40 non-adjacent
    // pairs by exact scaled Jaccard of neighborhoods (wedge join at
    // the middle vertex, anti-join vs the edge list — never all-pairs)
    Gate("q_link_pred", (s, dir) =>
      graft.graph.LabelProp.linkPredict(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          40),
      // link-prediction replay: wedge join at the middle vertex over the
      // same directed edges, anti-join vs the canonical pair list, exact
      // integer scaled Jaccard, identical total-order top-40
      Some(s"""WITH $I,
         |lk0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |lke AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM lk0
         |        UNION ALL SELECT kb, ka FROM lk0),
         |lkd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM lke GROUP BY 1),
         |lkw AS (SELECT e1.dst AS a, e2.dst AS b,
         |          CAST(COUNT(*) AS BIGINT) AS cn
         |        FROM lke e1 JOIN lke e2 ON e2.src = e1.src
         |          AND e1.dst < e2.dst
         |        GROUP BY 1, 2),
         |lkc AS (SELECT w.a, w.b, w.cn FROM lkw w
         |        LEFT JOIN lk0 e ON e.ka = w.a AND e.kb = w.b
         |        WHERE e.ka IS NULL)
         |SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
         |  c.cn, da.deg AS da, db.deg AS db,
         |  CAST((1000000 * c.cn) // (da.deg + db.deg - c.cn) AS BIGINT)
         |    AS jacc_scaled
         |FROM lkc c JOIN lkd da ON da.src = c.a
         |JOIN lkd db ON db.src = c.b
         |ORDER BY jacc_scaled DESC, cn DESC, a, b LIMIT 40""".stripMargin)),

    // degree distribution of the proximity graph (the sanity summary
    // every graph pipeline starts with): two map-side-combined
    // aggregates, output ≤ max-degree rows
    Gate("q_degree_dist", (s, dir) => {
      val e = graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir),
        3000L)
      e.select(col("ka").as("v")).unionAll(e.select(col("kb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    },
      // degree-distribution replay over the same bbox-overlap edges
      Some(s"""WITH $I,
         |dd0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |ddd AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |         (SELECT ka AS v FROM dd0
         |          UNION ALL SELECT kb FROM dd0) GROUP BY 1)
         |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM ddd GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-node clustering coefficient: triangles enumerated once by
    // degree-ordered orientation (hub-safe Σ out-deg² work), corners
    // credited via explode, exact scaled 2t div deg(deg−1)
    Gate("q_clustering_coef", (s, dir) =>
      graft.graph.LabelProp.clusteringCoef(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L))
        .orderBy("v"),
      // clustering-coefficient replay: id-ordered triple join finds
      // each triangle once (orientation-free ground truth), corners
      // credited via unnest, same floor formula
      Some(s"""WITH $I,
         |cc0 AS (SELECT a.k AS u, b.k AS v FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |ccd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |         (SELECT u AS src FROM cc0
         |          UNION ALL SELECT v FROM cc0) GROUP BY 1),
         |cct AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |        FROM cc0 e1 JOIN cc0 e2 ON e2.u = e1.v
         |        JOIN cc0 e3 ON e3.u = e1.u AND e3.v = e2.v),
         |ccx AS (SELECT unnest([a, b, c]) AS v FROM cct),
         |ccc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS tri
         |        FROM ccx GROUP BY 1)
         |SELECT CAST(d.src AS BIGINT) AS v, d.deg,
         |  COALESCE(c.tri, 0) AS tri,
         |  CAST(CASE WHEN d.deg < 2 THEN 0 ELSE
         |    (2 * 1000000 * COALESCE(c.tri, 0)) // (d.deg * (d.deg - 1))
         |    END AS BIGINT) AS coef_scaled
         |FROM ccd d LEFT JOIN ccc c ON c.v = d.src
         |ORDER BY 1""".stripMargin)),

    // bounded-hop multi-source shortest paths (6-round Bellman-Ford
    // isochrone) over the proximity graph, centroid-Manhattan edge
    // weights: per round one edge⋈dist join + one MIN aggregate
    Gate("q_sssp", (s, dir) => {
      val im = Synth.images(s, dir)
      // centroid-Manhattan weights straight off the pair row (the
      // ±pad corner sums cancel exactly) — no footprint re-attach
      val ew = graft.ops.SpatialJoin.proximityEdgesCoords(im, 3000L)
        .withColumn("w", abs(col("sxa") - col("sxb")) +
          abs(col("sya") - col("syb")))
      val edges = ew.select(col("ka").as("src"), col("kb").as("dst"),
          col("w"))
        .unionAll(ew.select(col("kb").as("src"), col("ka").as("dst"),
          col("w")))
      val sources = im.where(col("k") % 31 === 0).select(col("k").as("v"))
      graft.graph.ShortestPaths.boundedSssp(edges, sources, 6)
        .orderBy("v")
    },
      // bounded-hop SSSP ground truth: brute proximity pairs (strict
      // padded-rect overlap, the pagerank edge fixture) + centroid-
      // Manhattan weights + self-loops, relaxed 6 recursive rounds
      Some(s"""WITH RECURSIVE $I,
         |sg0 AS (SELECT a.k AS ka, b.k AS kb,
         |          ABS((a.x0m+a.x1m) - (b.x0m+b.x1m))
         |            + ABS((a.y0m+a.y1m) - (b.y0m+b.y1m)) AS w
         |        FROM img2 a JOIN img2 b ON b.k > a.k
         |          AND a.x0m - 3000 < b.x1m + 3000
         |          AND b.x0m - 3000 < a.x1m + 3000
         |          AND a.y0m - 3000 < b.y1m + 3000
         |          AND b.y0m - 3000 < a.y1m + 3000),
         |sge AS (SELECT ka AS src, kb AS dst, w FROM sg0
         |        UNION ALL SELECT kb, ka, w FROM sg0
         |        UNION ALL SELECT k, k, CAST(0 AS BIGINT) FROM img2),
         |sgf(v, dist, it) AS (
         |  SELECT k, CAST(0 AS BIGINT), 0 FROM img2 WHERE k % 31 = 0
         |  UNION ALL
         |  SELECT u.v, u.dist, u.it + 1 FROM (
         |    SELECT e.dst AS v, MIN(t.dist + e.w) AS dist,
         |      MAX(t.it) AS it
         |    FROM sgf t JOIN sge e ON e.src = t.v
         |    GROUP BY 1) u
         |  WHERE u.it < 6)
         |SELECT v, CAST(dist AS BIGINT) AS dist FROM sgf
         |WHERE it = 6 ORDER BY v""".stripMargin))
  )
}
