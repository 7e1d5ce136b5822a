package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) over an undirected pair list, stated
  * in EXACT fixed-point integers so a SQL oracle replays it
  * bit-for-bit: ranks are scaled by `scale` (default 10⁶) and every
  * division is integer `div` — identical truncation in Spark (`div`)
  * and DuckDB (`//`) for the non-negative operands that occur here:
  *
  *   pr_0(v)    = scale
  *   pr_{t+1}(v) = (15·scale) div 100
  *               + (85 · Σ_{u ~ v} (pr_t(u) div deg(u))) div 100
  *
  * (damping 0.85 as two integer operations; undirected edges are
  * expanded to both directions, so deg ≥ 1 for every node in the
  * edge set — no dangling-mass term). The float PageRank is the
  * scale→∞ limit; the integer form is the GATED contract.
  *
  * Scale posture: each iteration is one equi-join of the directed
  * edge list against the rank table plus one map-side-combined sum
  * on the destination key — the textbook distributed PageRank
  * shape. Iterations are FIXED (an unrolled oracle CTE per round),
  * so the lineage stays shallow; for many rounds, checkpoint like
  * [[ConnectedComponents.starEdges]] does. Hub skew lands on the
  * destination-sum aggregate, which partial-aggregates map-side, so
  * a 10⁹-degree hub costs one combiner per task, not one reducer
  * row per edge. Overflow headroom: Σ contributions ≤ n·scale, so
  * 85·sum needs n·scale < 10¹⁷ — at scale 10⁶ that is 10¹¹ nodes.
  *
  * Returns one row per node: (v, pr) after `iters` rounds. */
object PageRank {

  def pagerankInt(pairs: DataFrame, iters: Int,
                  scale: Long = 1000000L): DataFrame = {
    val dir = ConnectedComponents.symEdges(
      ConnectedComponents.canonEdges(pairs))
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    var pr = deg.select(col("src").as("nd"), lit(scale).as("pr"))
    var t = 0
    while (t < iters) {
      val contrib = dir
        .join(pr.select(col("nd").as("src"), col("pr")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("nd"), expr("pr div deg").as("c"))
        .groupBy("nd").agg(sum(col("c")).as("s"))
      pr = pr.select("nd").join(contrib, Seq("nd"), "left")
        .select(col("nd"),
          (lit((15L * scale) / 100) +
            expr("(85 * coalesce(s, 0L)) div 100")).as("pr"))
      t += 1
    }
    pr.select(col("nd").as("v"), col("pr"))
  }
}
