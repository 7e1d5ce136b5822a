package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection and link prediction over an undirected pair
  * list — the two remaining classics of the proximity-graph family
  * next to [[ConnectedComponents]] / [[KCore]] / [[PageRank]]
  * (reference anchor: the spatial-proximity relationships exposed by
  * `GeoVector.intersections`, /root/reference/GIP/GeoVectorResource.cpp:1;
  * algorithms from the public literature — Raghavan et al. 2007
  * "Near linear time algorithm to detect community structures" and
  * Liben-Nowell & Kleinberg 2003 "The link prediction problem").
  *
  * Both are stated in exact integers with total-order tie-breaks, so
  * a SQL oracle replays them bit-for-bit. */
object LabelProp {

  /** SYNCHRONOUS label propagation, `rounds` fixed rounds: every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its neighbors, ties broken by the
    * SMALLEST label (argmax by (count desc, label asc) — a total
    * order, so the result is partition-independent and engines
    * agree). Fixed synchronous rounds (not async-until-converged) are
    * the deterministic distributed variant: async LPA's result
    * depends on visit order, which no shared-nothing engine can
    * reproduce.
    *
    * Scale posture: each round is one edge⋈label equi-join plus a
    * two-level aggregate — groupBy (node, label) partial-aggregates
    * map-side (a 10⁹-degree hub costs one combiner row per task per
    * distinct neighbor label, not one reducer row per edge), then the
    * per-node argmax reduces ≤ #distinct-labels rows. Per-round
    * lineage is truncated with a lazy localCheckpoint, same as
    * [[ConnectedComponents]]. Rounds are FIXED so the oracle unrolls
    * them as CTEs.
    *
    * Returns one row per node in the edge set: (v, lab). */
  def labelProp(pairs: DataFrame, rounds: Int): DataFrame = {
    val sym = ConnectedComponents.symEdges(
      ConnectedComponents.canonEdges(pairs)).localCheckpoint(false)
    var lab = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
    var t = 0
    while (t < rounds) {
      // label table is |V|-sized vs the |E|-sized symmetric edge
      // list: broadcast it so rounds never re-shuffle the edges
      // (guide §3.1; the lazily-checkpointed sides carry no stats and
      // otherwise plan as SMJ)
      val votes = sym
        .join(broadcast(lab.select(col("v").as("src"), col("lab"))),
          Seq("src"))
        .groupBy(col("dst").as("v"), col("lab"))
        .agg(count(lit(1)).as("c"))
      // argmax by (c desc, lab asc): labels are non-negative ids, so
      // max(struct(c, -lab)) realizes the total order exactly
      lab = votes.groupBy("v")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("lab"))
        .localCheckpoint(false)
      t += 1
    }
    lab
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998):
    * c(v) = 2·t(v)·10⁶ div (deg·(deg−1)) where t(v) = triangles
    * through v — the transitivity score that separates organically
    * dense neighborhoods from hub-and-spoke ones. Triangles are
    * enumerated ONCE each by the same degree-ordered orientation as
    * `SpatialJoin.triangleCensus` (every wedge generated at its
    * lowest-(deg,id) apex, closed against the oriented edge list —
    * work Σ out-deg² with out-degrees capped near the arboricity,
    * hub-safe), then each triangle credits its three corners via one
    * explode + map-side-combined count. Nodes with deg < 2 emit
    * coef 0. Returns (v, deg, tri, coef_scaled). */
  def clusteringCoef(pairs: DataFrame): DataFrame = {
    val dir = ConnectedComponents.symEdges(
      ConnectedComponents.canonEdges(pairs))
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    // total order ord = deg·2^40 + id (ids < 2^40), orient low→high.
    // BOUND (ADVICE r5): the packed key needs deg < 2^23 (~8.4M) on
    // top of ids < 2^40 — beyond that, compare a struct (deg, id)
    // instead; unreachable for the padded proximity fixtures
    val withOrd = dir
      .join(deg.select(col("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dd")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        (col("ds") * (1L << 40) + col("src")).as("os"),
        (col("dd") * (1L << 40) + col("dst")).as("od"))
      .where(col("os") < col("od"))
    val e1 = withOrd.select(col("src").as("a"), col("dst").as("b"),
      col("od").as("ob"))
    val e2 = withOrd.select(col("src").as("a"), col("dst").as("c"),
      col("od").as("oc"))
    val wedges = e1.join(e2, Seq("a")).where(col("ob") < col("oc"))
    val closed = wedges.join(
      withOrd.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
    val tcnt = closed
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.select(col("src").as("v"), col("deg"))
      .join(tcnt, Seq("v"), "left")
      .select(col("v"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, 0L).otherwise(
          expr("(2 * 1000000 * coalesce(tri, 0L)) div (deg * (deg - 1))"))
          .as("coef_scaled"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair
    * (a, b) sharing at least one neighbor, the common-neighbor count
    * `cn`, the endpoint degrees, and the exact scaled Jaccard
    * coefficient 10⁶·cn div (da + db − cn); top `topK` by
    * (jacc desc, cn desc, a, b).
    *
    * Scale posture: candidate pairs are generated as wedges at their
    * middle vertex (one self-equi-join of the directed edge list on
    * the middle key), so work is Σ deg(m)² — bounded on a proximity
    * graph whose degree is capped by geometry; on a heavy-tailed
    * graph, cap or sample hub middles first (the standard guard).
    * The (a, b) count partial-aggregates map-side; already-adjacent
    * pairs leave via one anti-join against the canonical edge list;
    * no all-pairs stage anywhere. The edge derivation is left
    * UNmaterialized deliberately: re-deriving it per consumer keeps
    * Catalyst's size statistics (broadcast planning) — measured 2×
    * faster than localCheckpoint-ing the edge list, whose RDD-backed
    * plan loses stats and demotes the small-side joins to shuffles. */
  def linkPredict(pairs: DataFrame, topK: Int): DataFrame = {
    val und = ConnectedComponents.canonEdges(pairs)
    val dir = ConnectedComponents.symEdges(und)
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    val cn = dir.select(col("src").as("m"), col("dst").as("a"))
      .join(dir.select(col("src").as("m"), col("dst").as("b")), Seq("m"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    cn.join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("src").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("src").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
        expr("(1000000 * cn) div (da + db - cn)").as("jacc_scaled"))
      .orderBy(col("jacc_scaled").desc, col("cn").desc, col("a"), col("b"))
      .limit(topK)
  }
}
