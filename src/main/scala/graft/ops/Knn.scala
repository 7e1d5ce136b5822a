package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.index.CellGrid

/** Exact k-nearest-neighbors via k-ring candidate search — the H3
  * kRing-expansion pattern the north rule names, made EXACT by a ring
  * guarantee: any point outside kRing(qcell, r) lies at Euclidean
  * distance > r·cellSize, so a query whose kth candidate distance is
  * ≤ r·cellSize is final.
  *
  * Scale design (round-2 rebuild):
  *   - images carry ONE packed-long cell key (cix·IxMul + ciy) — the
  *     broadcast build is an allocation-free LongHashedRelation, and
  *     the probe side is two shifts + one multiply per row (the same
  *     single-key discipline as SpatialJoin);
  *   - the query side (small) explodes to its ring cells and
  *     broadcasts — images NEVER shuffle;
  *   - unresolved queries RING-DOUBLE (r ← 2r) instead of falling back
  *     to a cross join: each round's candidate set grows by a bounded
  *     4× until the ring covers the domain, so worst case equals one
  *     full pruned scan and typical case is one round. At 10¹² images
  *     the residue rounds touch only the cells of sparse regions.
  */
object Knn {

  private def topk(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2"), col("image_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("image_id"), col("dist2"))
  }

  private def dist2 =
    (col("cxm") - col("qxm")) * (col("cxm") - col("qxm")) +
    (col("cym") - col("qym")) * (col("cym") - col("qym"))

  /** images: (image_id, cxm, cym); queries: (qid, qxm, qym).
    * Returns (qid, rank, image_id, dist2), rank 1..k, ties by image_id. */
  def knn(spark: SparkSession, images: DataFrame, queries: DataFrame,
          k: Int, res: Int = 7, initialRing: Int = 4): DataFrame = {
    val shift = CellGrid.Shift - res
    val cellSize = 1L << shift
    val maxIx = 360000L >> shift
    val maxIy = 180000L >> shift
    // once the ring covers the whole domain the join IS the exhaustive
    // (grid-pruned) scan — the loop is guaranteed to terminate
    val domainRing = math.max(maxIx, maxIy) + 1

    val packed: Column = col("cix") * CellGrid.IxMul + col("ciy")
    val imgCells = images
      .withColumn("cix", shiftright(col("cxm") + CellGrid.OffX, shift))
      .withColumn("ciy", shiftright(col("cym") + CellGrid.OffY, shift))
      .withColumn("cell", packed)
      .drop("cix", "ciy")

    val q0 = queries
      .withColumn("qcix", shiftright(col("qxm") + CellGrid.OffX, shift))
      .withColumn("qciy", shiftright(col("qym") + CellGrid.OffY, shift))

    def ringCells(qs: DataFrame, r: Long): DataFrame = qs
      .withColumn("cix", explode(sequence(
        greatest(lit(0L), col("qcix") - r), least(lit(maxIx), col("qcix") + r))))
      .withColumn("ciy", explode(sequence(
        greatest(lit(0L), col("qciy") - r), least(lit(maxIy), col("qciy") + r))))
      .withColumn("cell", packed)
      .drop("cix", "ciy")

    // the query side is small by contract (it broadcasts), so the
    // per-round bookkeeping collects the RESOLVED qids (≤ #queries
    // rows — the same bounded-driver-aggregate budget as centroid
    // collection) instead of broadcast-joining them: each round is
    // then exactly ONE job (the doneIds aggregate, which also
    // materializes the round cache), where the join+isEmpty form paid
    // three scheduler round-trips and two broadcast builds per round —
    // the wall for this operator IS job-count overhead, not data
    val nQueries = q0.count()
    var nResolved = 0L
    var unresolved = q0
    var resolved: DataFrame = null
    var r = initialRing.toLong
    var exhaustive = false
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (!exhaustive) {
      exhaustive = r >= domainRing
      val round = topk(
        imgCells.join(broadcast(ringCells(unresolved, r)), Seq("cell"))
          .withColumn("dist2", dist2),
        k).cache()
      rounds += round
      if (exhaustive) {
        resolved = if (resolved == null) round else resolved.union(round)
      } else {
        // ring guarantee: k found AND kth distance ≤ r·cellSize
        val bound = r * cellSize
        val done = round.groupBy("qid")
          .agg(count(lit(1)).as("n"), max(col("dist2")).as("kd2"))
          .where(col("n") === k && col("kd2") <= lit(bound * bound))
          .select("qid").collect().map(_.get(0)).toSeq
        val roundResolved = round.where(col("qid").isin(done: _*))
        resolved =
          if (resolved == null) roundResolved else resolved.union(roundResolved)
        unresolved = unresolved.where(!col("qid").isin(done: _*))
        nResolved += done.length
        if (nResolved >= nQueries) exhaustive = true else r *= 2
      }
    }
    // the result has at most #queries × k rows: hold it on the driver so
    // no round stays cached in the session once the call returns
    val rows = resolved.collect()
    rounds.foreach(_.unpersist())
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), resolved.schema)
  }
}
