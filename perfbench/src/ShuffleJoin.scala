package perfbench

import graft.gen.Synth
import graft.index.CellGrid
import graft.ops.SpatialJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import scala.collection.mutable
import Timing.timed

/** The covering-cell join with a shuffle on both sides:
  * `SpatialJoin.joinRects(images, polys, 7, broadcastPolys = false)` as a
  * sort-merge join. Spark broadcasts either side below about a million
  * rows, and inputs that large take far longer than a run on 4 cores, so
  * this workload's joins run with automatic broadcast off. An operation
  * joins both legs: `skewed` puts a seeded quarter of the images in one
  * seed-placed res-7 cell, `uniform` has the same sizes and no hot cell.
  * The hot cell's reducer gets about twice the median load; adaptive
  * execution leaves it whole (far below its skew thresholds), which the
  * traced `aqe_skew_joins` count shows. */
final class ShuffleJoin(c: Ctx, n: Long = 700000L, polygons: Long = 60000L) extends Workload {
  val name = "shuffle_join"
  val Legs = Seq("skewed", "uniform")
  private val Res = 7
  private val HotPermille = 250
  private val off = Inputs.keyOffset(c.seed, 2)
  private val sub = Inputs.sampled(c.seed, 16)
  private val expected = mutable.Map.empty[String, Long]
  private val expectedSub = mutable.Map.empty[String, Long]

  /** Origin of the hot cell: a seed-chosen cell inside the image domain
    * among those covered by the median number of polygons, so the hot
    * cell's work is the same for every seed. */
  private lazy val hotCell: (Long, Long) = {
    val sh = CellGrid.Shift - Res
    val cs = CellGrid.cellSize(Res)
    val cells = SpatialJoin.withCoverCells(polys, Res, "px0m", "py0m", "px1m", "py1m")
      .groupBy("cix", "ciy").count().collect()
      .map(r => ((r.getLong(0) << sh) - CellGrid.OffX, (r.getLong(1) << sh) - CellGrid.OffY, r.getLong(2)))
      .filter { case (x, y, _) => x >= -150000 && x + cs <= 150000 && y >= -60000 && y + cs <= 60000 }
      .sortBy(c => (c._3, c._1, c._2))
    val median = cells(cells.length / 2)._3
    val pick = cells.filter(_._3 == median)
    val (x, y, _) = pick(new java.util.Random(c.seed).nextInt(pick.length))
    (x, y)
  }

  private def images(leg: String, m: Long) = {
    val im = Inputs.images(c.spark, off, m, c.parts)
    if (leg == "skewed") Inputs.withHotCell(im, c.seed, HotPermille, Res, hotCell._1, hotCell._2) else im
  }
  private def polys = Synth.polygonsRange(c.spark, polygons, sizeDiv = 8)
  private def join(im: DataFrame) = SpatialJoin.joinRects(im, polys, Res, broadcastPolys = false)

  /** Runs `f` with automatic broadcast joins off (explicit hints still apply). */
  private def sortMerge[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = c.spark.conf.get(key)
    c.spark.conf.set(key, "-1")
    try f finally c.spark.conf.set(key, before)
  }

  /** (pairs, pairs of subsample images) of `j`, and how many sort-merge
    * joins adaptive execution split as skewed in its final plan. */
  private def summary(j: DataFrame): ((Long, Long), Int) = sortMerge {
    val agg = j.agg(count(lit(1)), coalesce(sum(when(sub, 1L).otherwise(0L)), lit(0L)))
    // collect executes agg's own plan, whose final adaptive form is read below
    val r = agg.collect().head
    val splits = FinalPlan.collect(agg.queryExecution.executedPlan) {
      case sj: SortMergeJoinExec if sj.isSkewJoin => sj
    }.size
    ((r.getLong(0), r.getLong(1)), splits)
  }

  /** Walks a final adaptive plan through its query stages. */
  private object FinalPlan extends AdaptiveSparkPlanHelper

  def setup(): Unit = Legs.foreach { leg =>
    // reference: the general broadcast joinRects path on the key subsample
    expectedSub(leg) = SpatialJoin.joinRects(images(leg, n).where(sub), polys, Res).count()
    summary(join(images(leg, n / 16)))
  }

  def passOk(leg: String, r: (Long, Long)): Boolean = {
    val same = expected.get(leg).forall(_ == r._1)
    expected.getOrElseUpdate(leg, r._1)
    c.tally.check(s"shuffle_join.$leg: pairs $r vs subsample reference ${expectedSub.get(leg)} " +
      s"and totals ${expected.get(leg)}", expectedSub.get(leg).contains(r._2) && same)
  }

  /** (pairs, subsample pairs) of one join of `leg`. */
  def result(leg: String): (Long, Long) = joinLeg(leg)._1

  /** One join of `leg`: its (pairs, subsample pairs) and skew-split joins. */
  def joinLeg(leg: String): ((Long, Long), Int) = summary(join(images(leg, n)))

  /** One join of each leg. */
  def pass(): Op = {
    val s = Legs.map { leg =>
      val (r, s) = timed(result(leg))
      passOk(leg, r)
      s
    }
    Op(s.sum, n * Legs.size)
  }

  def attribute(t: Tracer, m: Metrics): Unit = {
    val p = name
    val all = new GroupStats
    var traced = 0.0
    var untraced = 0.0
    pass() // warm, so the untraced and traced walls compare like for like
    Legs.foreach { leg =>
      val q = s"$p.$leg"
      val im = images(leg, n)
      untraced += t.bare(result(leg))._2
      val ((r, splits), s, st) = t.span(s"$q.exchange", p)(joinLeg(leg))
      traced += s
      all.add(st)
      passOk(leg, r)
      val imgCells = SpatialJoin.withCoverCells(im, Res, "x0m", "y0m", "x1m", "y1m")
        .select((col("cix") * CellGrid.IxMul + col("ciy")).as("cell"))
      val polyCells = SpatialJoin.withCoverCells(polys, Res, "px0m", "py0m", "px1m", "py1m")
        .select((col("cix") * CellGrid.IxMul + col("ciy")).as("cell"))
      val (coverImages, _, _) = t.span(s"$q.index.cover_images", q)(imgCells.count())
      val (coverPolys, _, _) = t.span(s"$q.index.cover_polys", q)(polyCells.count())
      val (hot, _, _) = t.span(s"$q.hot_cell", q)(
        imgCells.groupBy("cell").count().agg(max("count")).head().getLong(0))
      val (cand, _, _) = t.span(s"$q.ops.SpatialJoin.candidates", q)(
        Attribution.candidates(imgCells, polyCells))
      val tasks = if (st.reduceTaskS.isEmpty) Seq(0.0) else st.reduceTaskS.toSeq
      val p50 = Timing.median(tasks)
      m.put(s"$q.images_per_s", n / s, "1/s")
      m.put(s"$q.index.cover_rows_images", coverImages, "count")
      m.put(s"$q.index.cover_rows_polys", coverPolys, "count")
      m.put(s"$q.exchange.shuffle_write_mb", st.shuffleWriteBytes / 1e6, "MB")
      m.put(s"$q.exchange.shuffle_records", st.shuffleWriteRecords, "count")
      m.put(s"$q.exchange.spill_mb", st.spillBytes / 1e6, "MB")
      m.put(s"$q.exchange.task_max_s", tasks.max, "s")
      m.put(s"$q.exchange.task_p50_s", p50, "s")
      m.put(s"$q.exchange.task_skew_ratio", if (p50 > 0) tasks.max / p50 else 0.0, "ratio")
      m.put(s"$q.exchange.aqe_skew_joins", splits, "count")
      m.put(s"$q.hot_cell_share", hot.toDouble / n, "ratio")
      m.put(s"$q.ops.SpatialJoin.candidates", cand, "count")
      m.put(s"$q.ops.SpatialJoin.pairs", r._1, "count")
      m.put(s"$q.ops.SpatialJoin.hit_ratio", r._1.toDouble / cand, "ratio")
    }
    m.put(s"$p.trace_overhead_share", traced / untraced - 1, "ratio")
    Attribution.sparkCounts(m, p, all)
  }
}
