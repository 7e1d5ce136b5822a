package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition step: the maximal subgraph in which every
  * node has degree ≥ k — the classic "dense neighborhood" filter a
  * curation pipeline runs over a near-dup / proximity graph to find
  * tightly-coupled groups (boilerplate farms, mirror clusters) that
  * pairwise thresholds miss (Seidman 1983, "Network structure and
  * minimum degree" — public literature; reference anchor: the
  * spatial-proximity graph family built on `GeoVector.intersections`,
  * GIP/GeoVectorResource.cpp:1).
  *
  * Algorithm: synchronous peeling. Each round drops every node whose
  * degree within the current survivor set is < k; the fixpoint is the
  * k-core. Rounds are two hash shuffles (degree groupBy + survivor
  * semi-join), never all-pairs, and the edge set only shrinks.
  *
  * Scale posture at 10¹² rows: per-round cost is one map-side-combined
  * degree aggregate over the surviving edges plus two broadcast-or-
  * shuffle semi-joins keyed on node id; the peel sheds the low-degree
  * FRINGE first, so edge volume decays geometrically on heavy-tailed
  * graphs. Round count is bounded by the degeneracy ordering depth,
  * not the diameter. Like [[ConnectedComponents]], every round ends
  * in a lazy localCheckpoint whose materializing job IS the
  * convergence fingerprint — one action per round, lineage bounded.
  */
object KCore {

  /** Survivors of the k-core peel with their within-core degree.
    *
    * @param pairs edge list (two id columns, any names); self-loops
    *              dropped, duplicates collapsed
    * @param k     minimum within-subgraph degree
    * @param maxRounds fixpoint cap — a converged peel exits early, so
    *              the cap only bounds pathological inputs. The oracle
    *              mirror unrolls exactly this many rounds; keep them
    *              in sync.
    * @return (v, coredeg) for every node in the k-core, coredeg ≥ k
    */
  def kcore(pairs: DataFrame, k: Int, maxRounds: Int = 12): DataFrame =
    kcoreRounds(pairs, k, maxRounds)._1

  /** [[kcore]] and the number of peel rounds it ran. */
  private[graft] def kcoreRounds(pairs: DataFrame, k: Int,
                                 maxRounds: Int): (DataFrame, Int) = {
    require(k >= 1, "k-core needs k >= 1")
    // symmetrize once; the peel keeps edges whose BOTH endpoints live
    val sym = ConnectedComponents.symEdges(
      ConnectedComponents.canonEdges(pairs))
    // one action per round: the edge-count job materializes the
    // lazily-checkpointed pruned edge set. The peel is MONOTONE
    // (edges are only ever removed), so an unchanged edge count is a
    // sound fixpoint test — no hash fingerprint needed.
    def fp(e: DataFrame): (DataFrame, Long) = {
      val c = e.localCheckpoint(false)
      (c, c.count())
    }
    // a capped peel keeps its result: the oracle unrolls exactly
    // maxRounds rounds, so both stop at the same edge set
    val ((cur, _), n, _) = graft.ops.Rounds.untilStable(
        pairs.sparkSession.sparkContext, maxRounds)(fp(sym)) {
      case s @ (_, 0L) => (s, true) // nothing left to peel: no job
      case (cur, cfp) =>
        val deg = cur.groupBy("src").agg(count(lit(1)).as("dg"))
        val keep = deg.where(col("dg") >= k).select("src")
        val pruned = cur
          .join(keep, "src")
          .join(keep.select(col("src").as("dst")), "dst")
          .select("src", "dst")
        val (next, nfp) = fp(pruned)
        ((next, nfp), nfp == cfp || nfp == 0)
    }
    (cur.groupBy(col("src").as("v"))
      .agg(count(lit(1)).cast("long").as("coredeg"))
      .where(col("coredeg") >= k), n)
  }
}
