package graft

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.ops.Stats

/** Zonal statistics: the distributed windowed kernel must agree with a
  * brute-force per-pixel center-in-rect evaluation on the same synth
  * images (window clamping — the scale optimization — changes nothing). */
class ZonalSpec extends SparkSuite {

  // sf0.01: the smallest scale where small-raw images actually overlap
  // polygons (at sf0.001 the zonal result is legitimately empty)
  private val sfDir = "/root/testdata/sf0.01"

  /** Driver-side brute force: every pixel of every small-raw image vs
    * every polygon, center-in-[p0,p1) rule. */
  private def brute(): Map[Long, (Long, Long, Long, Long, Long)] = {
    val polys = Synth.polygons(spark, sfDir)
      .select("fid", "px0m", "py0m", "px1m", "py1m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val imgs = Synth.images(spark, sfDir)
      .where(col("w") <= 64 && col("h") <= 64 &&
             (col("k") % 6 === 1 || col("k") % 6 === 2))
      .select("k", "w", "h", "fmt", "x0m", "y1m")
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt,
        r.getString(3), r.getLong(4), r.getLong(5)))
    val acc = scala.collection.mutable.Map[Long,
      (Set[Long], Long, Long, Long, Long)]()
    for ((fid, px0, py0, px1, py1) <- polys;
         (k, w, h, fmt, x0m, y1m) <- imgs;
         y <- 0 until h; x <- 0 until w) {
      val cx = x0m + 4L * x + 2
      val cy = y1m - 4L * y - 2
      if (cx >= px0 && cx < px1 && cy >= py0 && cy < py1) {
        val v = Synth.pixelValue(k, fmt, 0, x, y)
        if (!v.isNaN) {
          val vi = v.toLong
          val (ks, n, s, mn, mx) = acc.getOrElse(fid,
            (Set.empty[Long], 0L, 0L, Long.MaxValue, Long.MinValue))
          acc(fid) = (ks + k, n + 1, s + vi, math.min(mn, vi), math.max(mx, vi))
        }
      }
    }
    acc.map { case (fid, (ks, n, s, mn, mx)) =>
      fid -> (ks.size.toLong, n, s, mn, mx)
    }.toMap
  }

  test("zonalStatsPoly on a concave ring matches brute-force ray-casting") {
    import spark.implicits._
    // L-shaped (concave) zone: the rect [-100000,-50000]×[0,50000] minus
    // its upper-right quadrant
    val xs = Array(-100.0, -50.0, -50.0, -75.0, -75.0, -100.0)
    val ys = Array(0.0, 0.0, 25.0, 25.0, 50.0, 50.0)
    val wkt = "POLYGON ((" + (xs.indices :+ 0).map(i =>
      s"${xs(i % xs.length)} ${ys(i % xs.length)}").mkString(", ") + "))"
    val polys = Seq((0L, wkt, -100000L, 0L, -50000L, 50000L))
      .toDF("fid", "geom_wkt", "px0m", "py0m", "px1m", "py1m")
    val imgsB = Synth.imagesWithBytes(spark, sfDir, df =>
      df.where(col("w") <= 64 && col("h") <= 64 &&
               (col("k") % 6 === 1 || col("k") % 6 === 2)))
    val got = Stats.zonalStatsPoly(imgsB, polys, Synth.NumBands)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // brute force with the same PIP kernel, no window clamping
    val imgs = Synth.images(spark, sfDir)
      .where(col("w") <= 64 && col("h") <= 64 &&
             (col("k") % 6 === 1 || col("k") % 6 === 2))
      .select("k", "w", "h", "fmt", "x0m", "y1m")
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt,
        r.getString(3), r.getLong(4), r.getLong(5)))
    var ks = Set.empty[Long]; var n = 0L; var s = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    for ((k, w, h, fmt, x0m, y1m) <- imgs; y <- 0 until h; x <- 0 until w) {
      val cx = (x0m + 4L * x + 2) / 1000.0
      val cy = (y1m - 4L * y - 2) / 1000.0
      if (graft.core.Geom.pointInPolygon(cx, cy, xs, ys)) {
        val v = Synth.pixelValue(k, fmt, 0, x, y)
        if (!v.isNaN) {
          val vi = v.toLong
          ks += k; n += 1; s += vi
          mn = math.min(mn, vi); mx = math.max(mx, vi)
        }
      }
    }
    assert(n > 0, "fixture zone should cover at least one image")
    assert(got === Map(0L -> ((ks.size.toLong, n, s, mn, mx))))
  }

  test("zonalStats matches brute-force center-in-rect evaluation") {
    val got = Stats.zonalStats(
        Synth.imagesWithBytes(spark, sfDir, df =>
          df.where(col("w") <= 64 && col("h") <= 64 &&
                   (col("k") % 6 === 1 || col("k") % 6 === 2))),
        Synth.polygons(spark, sfDir), Synth.NumBands)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val want = brute()
    assert(got.keySet === want.keySet)
    assert(got === want)
    assert(got.nonEmpty, "fixture should produce at least one zonal row")
  }

  test("zonalHist + zonalMajority match brute-force quantized counts") {
    val flt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2))
    val hist = Stats.zonalHist(Synth.imagesWithBytes(spark, sfDir, flt),
      Synth.polygons(spark, sfDir), Synth.NumBands, 256L)
    val gotH = hist.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: same pixel walk as brute(), quantized
    val polys = Synth.polygons(spark, sfDir)
      .select("fid", "px0m", "py0m", "px1m", "py1m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val imgs = Synth.images(spark, sfDir)
      .where(col("w") <= 64 && col("h") <= 64 &&
             (col("k") % 6 === 1 || col("k") % 6 === 2))
      .select("k", "w", "h", "fmt", "x0m", "y1m")
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt,
        r.getLong(2).toInt, r.getString(3), r.getLong(4), r.getLong(5)))
    val acc = scala.collection.mutable.Map[(Long, Long), Long]()
    for ((fid, px0, py0, px1, py1) <- polys;
         (k, w, h, fmt, x0m, y1m) <- imgs;
         y <- 0 until h; x <- 0 until w) {
      val cx = x0m + 4L * x + 2
      val cy = y1m - 4L * y - 2
      if (cx >= px0 && cx < px1 && cy >= py0 && cy < py1) {
        val v = Synth.pixelValue(k, fmt, 0, x, y)
        if (!v.isNaN) {
          val key = (fid, Math.floorDiv(v.toLong, 256L))
          acc(key) = acc.getOrElse(key, 0L) + 1L
        }
      }
    }
    assert(gotH === acc.toMap)
    // majority rollup: argmax/argmin with the documented tie-breaks
    val gotM = Stats.zonalMajority(hist).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val wantM = acc.groupBy(_._1._1).map { case (fid, m) =>
      val h = m.map { case ((_, q), n) => (q, n) }.toSeq
      fid -> (h.minBy { case (q, n) => (-n, q) }._1,
        h.minBy { case (q, n) => (n, q) }._1,
        h.size.toLong, h.map(_._2).sum)
    }
    assert(gotM === wantM)
  }

  test("chi2FromJointHist: exact independence scores 0, a diagonal " +
    "table scores the closed form") {
    import spark.implicits._
    // independent 2x2: o = r*c/n exactly (margins 2/2, n = 4)
    val ind = Seq(("i", 0L, 0L, 1L), ("i", 0L, 1L, 1L),
        ("i", 1L, 0L, 1L), ("i", 1L, 1L, 1L))
      .toDF("image_id", "b0", "b3", "n_px")
    val gi = Stats.chi2FromJointHist(ind).collect()(0)
    assert((gi.getLong(1), gi.getLong(2), gi.getLong(3)) === ((4L, 1L, 0L)))
    // perfect diagonal 2x2 (n = 4, o = 2 on diag): chi2 = n = 4 ->
    // each of 4 cells contributes (4·o − 4)²·1000/(4·2·2): diag
    // (16−4)²·1000/16 = 4000... wait rc = cc = 2 -> den = 4·2·2 = 16,
    // diag num (4·2 − 4)² = 16 -> 1000; off-diag (0 − 4)² = 16 -> 1000
    val diag = Seq(("d", 0L, 0L, 2L), ("d", 1L, 1L, 2L))
      .toDF("image_id", "b0", "b3", "n_px")
    val gd = Stats.chi2FromJointHist(diag).collect()(0)
    assert((gd.getLong(1), gd.getLong(2), gd.getLong(3)) ===
      ((4L, 1L, 4000L)))
  }

  test("ewmaAnomaly: a spike after quiet days is flagged, the EWMA " +
    "halves across gap days, steady traffic is never flagged") {
    import spark.implicits._
    // one cell (px,py < 512 -> gi=gj=0); day d carries c events
    def mk(days: Seq[(Long, Int)]) =
      days.flatMap { case (d, c) => Seq.fill(c)((1L, 1L, d * 86400L)) }
        .toDF("px", "py", "t")
    // steady 4/day for 5 days then a 40-spike
    val got = graft.ops.SpatialJoin.ewmaAnomaly(
        mk(Seq((0L, 4), (1L, 4), (2L, 4), (3L, 4), (4L, 40))),
        512L, 86400L, 30)
      .orderBy("day").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.last === ((4L, 40L, 21875L, 1L))) // spike flagged
    // day 0 is flagged by the zero-history convention (x > 6·0);
    // the steady days after it are not
    assert(got.head._4 === 1L)
    assert(got.slice(1, 4).forall(_._4 == 0L))
    // gap semantics: x=8 on day 0, nothing after; EWMA on day 0 is
    // 8000/2 = 4000 milli; a revisit on day 2 with x=1 sees the
    // prior mass halved twice: T = 8·2^26 + 1·2^28, s = T/2^29
    val g2 = graft.ops.SpatialJoin.ewmaAnomaly(
        mk(Seq((0L, 8), (2L, 1))), 512L, 86400L, 30)
      .orderBy("day").collect()
      .map(r => (r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(g2(0)._2 === 4000L)
    assert(g2(1)._2 === 1500L) // (8/2³ + 1/2)·1000: two gap halvings
  }
}
