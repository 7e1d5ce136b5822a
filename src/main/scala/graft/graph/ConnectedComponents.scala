package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over a near-dup pair list — the
  * CLUSTERING stage a corpus-scale dedup pipeline runs after candidate
  * generation + verification (pairs alone don't dedup: near-duplicity
  * is transitive in practice, so the unit of removal is the component,
  * keep-one-per-component).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce
  * and Beyond", SoCC 2014 — public literature). Each round is two
  * hash-shuffle stages (groupBy min + equi-join back); the edge set
  * converges to per-component stars centered on the component minimum
  * in O(log²  n) rounds (O(log n) observed). No driver-side iteration
  * over rows — the driver sees only a per-round convergence checksum.
  *
  * Scale posture at 10¹² rows: every stage is an equi-shuffle on node
  * id; edge count never grows beyond the input degree sum (large-star
  * only re-targets larger neighbors, small-star only smaller), and the
  * heavy-hub skew that worries label propagation is exactly what the
  * star operations flatten first. Convergence checking is a count +
  * order-insensitive hash aggregate, not a subtract/except.
  */
object ConnectedComponents {

  /** Canonical undirected unique edges (u < v) from an id pair list. */
  def canonEdges(pairs: DataFrame): DataFrame =
    pairs.toDF("a", "b")
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
              greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Large-star: for every node u, connect each STRICTLY LARGER
    * neighbor to min(Γ⁺(u)) (its neighborhood incl. u). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = nbrs.groupBy("u").agg(min(least(col("u"), col("v"))).as("m"))
    nbrs.join(m, "u")
      .where(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("u"),
              greatest(col("v"), col("m")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: for every node u, connect each neighbor v ≤ u (and u
    * itself) to the minimum of those neighbors. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
                       least(col("u"), col("v")).as("v"))
    val m = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
              greatest(col("u"), col("v")).as("v"))
      .distinct()
  }

  /** LAZY-checkpoint + order-insensitive convergence fingerprint
    * (#edges, bit_xor of per-edge hashes — overflow-free under ANSI)
    * in ONE action: the fingerprint aggregate is the first job over
    * the lazily-checkpointed edges, so it materializes the checkpoint
    * blocks while computing the (count, xor) row — one job per round
    * instead of checkpoint-then-fingerprint's two. The fingerprint row
    * is still the only thing the driver ever collects. */
  private def ckptFingerprint(df: DataFrame): (DataFrame, (Long, Long)) = {
    val c = df.localCheckpoint(false)
    val r = c.select(xxhash64(col("u"), col("v")).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (c, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
  }

  /** One large-star + small-star round over a canonical edge set —
    * exposed for plan inspection (PlanDump) and round-level tests; the
    * fixpoint loop is [[starEdges]]. */
  def starRound(edges: DataFrame): DataFrame = smallStar(largeStar(edges))

  /** Both directions (src, dst) of canonical edges (u, v) — the
    * directed edge list of the graph family. Left unmaterialized so
    * consumers keep Catalyst's size statistics (see
    * [[LabelProp.linkPredict]]). */
  def symEdges(und: DataFrame): DataFrame =
    und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))

  /** Round cap of [[starEdges]] (rounds observed: O(log n)). */
  private val MaxRounds = 50

  /** Run star rounds until the edge set is a fixpoint; returns the
    * star edges (node → its component min, for every non-min node).
    *
    * Each round ends in a lazy `localCheckpoint` whose materializing
    * job IS the convergence-fingerprint aggregate (one job per round —
    * see [[ckptFingerprint]]); iterative DataFrames otherwise double
    * their logical plan every round (lineage grows as 2^rounds:
    * analysis/codegen cost explodes long before data does). On a real
    * cluster swap in reliable `checkpoint()` (or a per-round Lineage
    * table write) so a lost executor can't lose a round. */
  def starEdges(pairs: DataFrame): DataFrame = starEdgesRounds(pairs)._1

  /** [[starEdges]] and the number of star rounds it ran. */
  private[graft] def starEdgesRounds(pairs: DataFrame): (DataFrame, Int) = {
    val ((e, _), n, done) = graft.ops.Rounds.untilStable(
        pairs.sparkSession.sparkContext, MaxRounds)(
        ckptFingerprint(canonEdges(pairs))) { case (e, fp) =>
      val (next, nfp) = ckptFingerprint(starRound(e))
      ((next, nfp), nfp == fp)
    }
    require(done, s"connectedComponents did not converge in $n rounds")
    (e, n)
  }

  /** (id, comp) for EVERY node in `nodes` (single id column): comp =
    * min id of the node's component; isolated nodes map to themselves. */
  def components(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // converged star edges are canonical (u = component min, v = member)
    val stars = starEdges(pairs)
      .select(col("u").as("comp"), col("v").as("id"))
    nodes.toDF("id")
      .join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Dedup-cluster view over `documents`: near-dup edges from the
    * corpus-scale MinHash-LSH pair pipeline
    * ([[graft.text.TextOps.jaccardPairsLsh]]), components over them,
    * keep = the component minimum. Returns one row per document:
    * (doc_id, cluster_id, keep) — the drop set is `where(!keep)`. */
  def dedupClusters(docs: DataFrame, threshold: Double,
                    nSigs: Int = 4): DataFrame = {
    val pairs = graft.text.TextOps.jaccardPairsLsh(docs, threshold, nSigs)
      .select("id_a", "id_b")
    components(docs.select("doc_id"), pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
              (col("id") === col("comp")).as("keep"))
  }
}
