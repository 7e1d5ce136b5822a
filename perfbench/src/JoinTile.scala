package perfbench

import graft.gen.Synth
import graft.index.CellGrid
import graft.ops.{SpatialJoin, Tiling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Timing.timed

/** The headline pipeline, as `graft.Bench.joinTilePipeline(decode = false)`:
  * seed-offset images → broadcast small-image join against 1000 polygons
  * → crop rects → tiles (64 KiB chunks) → aggregate. */
final class JoinTile(c: Ctx, n: Long = 16000000L) extends Workload {
  val name = "join_tile"
  private val Res = 7
  private val PrefixRounds = 3
  private val off = Inputs.keyOffset(c.seed, 1)
  private val sub = Inputs.sampled(c.seed, 64)
  private var expected: Option[(Long, Long)] = None
  private var expectedSub = (-1L, -1L)

  private def images(m: Long) = Inputs.images(c.spark, off, m, c.parts)
  private def polys = Synth.polygonsRange(c.spark, 1000, sizeDiv = 8)
  private def joined(im: DataFrame, general: Boolean) =
    if (general) SpatialJoin.joinRects(im, polys, Res)
    else SpatialJoin.joinRectsSmallImages(im, polys, Res)
  private def crops(im: DataFrame, general: Boolean) = SpatialJoin.cropRects(joined(im, general))
  private def tiles(im: DataFrame, general: Boolean) =
    Tiling.tiles(crops(im, general).select(col("k"), col("fid"), col("cpx0"), col("cpy0"),
      (col("cpx1") - col("cpx0")).as("w"), (col("cpy1") - col("cpy0")).as("h")),
      chunkBytes = 65536)

  /** (rows, Σth) of the whole result and of the seeded key subsample. */
  private def summary(t: DataFrame): (Long, Long, Long, Long) = {
    val r = t.agg(count(lit(1)), coalesce(sum("th"), lit(0L)),
      coalesce(sum(when(sub, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(sub, col("th")).otherwise(0L)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def setup(): Unit = {
    c.tally.check("join_tile: Inputs.images mirrors Synth.imagesRange", Inputs.mirrorHolds(c.spark))
    // reference: the general covering-cell joinRects (broadcast) path on the key subsample
    val r = tiles(images(n).where(sub), general = true)
      .agg(count(lit(1)), coalesce(sum("th"), lit(0L))).head()
    expectedSub = (r.getLong(0), r.getLong(1))
    summary(tiles(images(n / 8), general = false))
  }

  /** A pass is correct when its subsample part equals the general path
    * and its totals equal every other pass of the run. */
  def passOk(r: (Long, Long, Long, Long)): Boolean = {
    val total = (r._1, r._2)
    val same = expected.forall(_ == total)
    if (expected.isEmpty) expected = Some(total)
    c.tally.check(s"join_tile: (rows, Σth) $r vs subsample reference $expectedSub and totals $expected",
      (r._3, r._4) == expectedSub && same)
  }

  /** (rows, Σth, subsample rows, subsample Σth) of one full pipeline run. */
  def result(): (Long, Long, Long, Long) = summary(tiles(images(n), general = false))

  def pass(): Op = {
    val (r, s) = timed(result())
    passOk(r)
    Op(s, n)
  }

  def attribute(t: Tracer, m: Metrics): Unit = {
    val p = name
    val im = images(n)
    // Spark fuses the pipeline into one stage, so each span is a prefix action
    def genOnly() = im.agg(count(lit(1)), sum(col("x0m") + col("y0m") + col("x1m") + col("y1m"))).head()
    def joinOnly() = joined(im, general = false).agg(count(lit(1)), sum("fid")).head()
    def cropOnly() = crops(im, general = false).agg(count(lit(1)),
      sum(col("cpx1") - col("cpx0") + col("cpy1") - col("cpy0"))).head()
    // rounds of the four prefixes, the first of which pays their code generation;
    // self times are medians over the rounds
    val rounds = (1 to PrefixRounds).map { i =>
      val (_, gen, _) = t.span(s"$p.gen", p)(genOnly())
      val (jr, join, _) = t.span(s"$p.ops.SpatialJoin", p)(joinOnly())
      val (_, crop, _) = t.span(s"$p.ops.SpatialJoin.crop", p)(cropOnly())
      // the untraced pass runs right before the last full traced pipeline it is compared with
      val u = if (i == PrefixRounds) t.bare(pass())._1.seconds else 0.0
      val (tr, full, st) = t.span(s"$p.ops.Tiling", p)(summary(tiles(im, general = false)))
      passOk(tr)
      (Seq(gen, join, crop, full), u, jr, tr, st)
    }
    def med(f: Seq[Double] => Double) = Timing.median(rounds.map(r => f(r._1)))
    val (last, u, jr, tr, st) = rounds.last
    val full = med(_(3))
    // build side and cell-equal candidates, keyed as joinRectsSmallImages keys them
    import SpatialJoin.{cellIx, cellIy}
    val polyCells = polys
      .withColumn("cix", explode(sequence(cellIx(col("px0m"), Res) - 1, cellIx(col("px1m") - 1, Res) + 1)))
      .withColumn("ciy", explode(sequence(cellIy(col("py0m"), Res) - 1, cellIy(col("py1m") - 1, Res) + 1)))
      .select((col("cix") * CellGrid.IxMul + col("ciy")).as("cell"))
    val imgCells = im.select((cellIx(col("x0m"), Res) * CellGrid.IxMul + cellIy(col("y0m"), Res)).as("cell"))
    val (buildRows, _, _) = t.span(s"$p.index.build", p)(polyCells.count())
    val (cand, _, _) = t.span(s"$p.ops.SpatialJoin.candidates", p)(Attribution.candidates(imgCells, polyCells))
    val matches = jr.getLong(0)
    m.put(s"$p.gen.scan_s", med(_(0)), "s")
    m.put(s"$p.ops.SpatialJoin.self_s", med(w => w(1) - w(0)), "s")
    m.put(s"$p.ops.SpatialJoin.crop_self_s", med(w => w(2) - w(1)), "s")
    m.put(s"$p.ops.Tiling.self_s", med(w => w(3) - w(2)), "s")
    m.put(s"$p.ops.SpatialJoin.build_rows", buildRows, "count")
    m.put(s"$p.ops.SpatialJoin.candidates", cand, "count")
    m.put(s"$p.ops.SpatialJoin.matches", matches, "count")
    m.put(s"$p.ops.SpatialJoin.hit_ratio", matches.toDouble / cand, "ratio")
    m.put(s"$p.ops.Tiling.tiles_out", tr._1, "count")
    m.put(s"$p.images_per_s", n / full, "1/s")
    m.put(s"$p.trace_overhead_share", last(3) / u - 1, "ratio")
    Attribution.sparkCounts(m, p, st)
  }
}
