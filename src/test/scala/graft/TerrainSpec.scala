package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Codec
import graft.gen.Synth
import graft.ops.Terrain

/** Terrain pack: Horn slope golden values, D8 direction semantics
  * (steepest drop, tie rule, pits), flow accumulation vs an inline
  * path-walk reference, and trend-sign recovery on a linear-in-t
  * stack. */
class TerrainSpec extends SparkSuite {

  private def enc(z: Array[Double], w: Int, h: Int): Array[Byte] =
    Codec.encode(Array(z), w, h, "raw-i16le")

  test("slopeAgg: Horn golden on a hand DEM") {
    // 3×3 plane z = 2x + 3y → the single interior pixel has
    // dzdx = 8·2 = 16, dzdy = 8·3 = 24, slope = sqrt(0.5² + 0.75²)
    val z = Array.tabulate(9)(i => (2 * (i % 3) + 3 * (i / 3)).toDouble)
    import spark.implicits._
    val df = Seq((enc(z, 3, 3), 3, 3)).toDF("b", "w", "h")
      .select(Terrain.slopeAgg(col("b"), col("w"), col("h")).as("s"))
    val r = df.collect()(0).getStruct(0)
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 16L && r.getLong(2) == 24L)
    val exp = math.floor(math.sqrt(0.5 * 0.5 + 0.75 * 0.75) * 1e6).toLong
    assert(r.getLong(3) == exp)
  }

  test("flowDir: steepest drop, lowest-code ties, pit") {
    // center 10; E neighbor 5 (drop 5), SE 5 (drop 5, higher code),
    // others 10 → steepest tie E/SE resolved to E (code 0)
    val z = Array(10.0, 10, 10, 10, 10, 5, 10, 10, 5)
    assert(Terrain.flowDir(z, 3, 3, 1, 1) == 0)
    // uniform plateau → no positive drop → pit
    val flat = Array.fill(9)(7.0)
    assert(Terrain.flowDir(flat, 3, 3, 1, 1) == -1)
    // border cell only sees in-grid neighbors
    val corner = Array(9.0, 8, 7, 6, 5, 4, 3, 2, 1)
    assert(Terrain.flowDir(corner, 3, 3, 0, 0) == 1) // SE diagonal is steepest
  }

  /** Inputs of the path-walk specs: two synth DEMs, the 96×4 ramp
    * (96-cell flow paths), a flat plateau (every cell a pit), and a
    * 1×N and an N×1 strip. */
  private val walkDems: Seq[(Long, Int, Int, Array[Double])] = {
    def synth(k: Long, w: Int, h: Int) = (k, w, h,
      Array.tabulate(w * h)(i => Synth.demValue(k, i % w, i / w).toDouble))
    Seq(synth(7L, 20, 16), synth(13L, 20, 16),
      (101L, 96, 4, Array.tabulate(96 * 4)(i => (100 + i % 96).toDouble)),
      (102L, 9, 7, Array.fill(9 * 7)(500.0)),
      synth(103L, 1, 37), synth(104L, 37, 1))
  }

  private def walkDemTable = {
    import spark.implicits._
    walkDems.map { case (k, w, h, z) => (k, s"img-$k", w, h, enc(z, w, h)) }
      .toDF("k", "image_id", "w", "h", "dem_bytes")
  }

  test("flowAccum == inline path-walk reference on synth DEMs") {
    val got = Terrain.flowAccum(walkDemTable).collect()
      .map(r => ((r.getLong(0), r.getInt(2), r.getInt(3)), r.getLong(4)))
      .toMap
    assert(got.size == walkDems.map(d => d._2 * d._3).sum)
    // reference: walk every cell's path, count visits
    for ((k, w, h, z) <- walkDems) {
      val ref = scala.collection.mutable.Map[(Int, Int), Long]()
        .withDefaultValue(0L)
      val dx = Array(1, 1, 0, -1, -1, -1, 0, 1)
      val dy = Array(0, 1, 1, 1, 0, -1, -1, -1)
      for (y0 <- 0 until h; x0 <- 0 until w) {
        var x = x0; var y = y0; var going = true
        while (going) {
          ref((x, y)) += 1
          val d = Terrain.flowDir(z, w, h, x, y)
          if (d < 0) going = false
          else { x += dx(d); y += dy(d) }
        }
      }
      for (y <- 0 until h; x <- 0 until w)
        assert(got((k, x, y)) == ref((x, y)), s"k=$k ($x,$y)")
    }
  }

  test("watershed == terminal of the inline path walk") {
    val got = Terrain.watershed(walkDemTable).collect()
      .map(r => ((r.getLong(0), r.getInt(2), r.getInt(3)),
        (r.getInt(4), r.getInt(5)))).toMap
    assert(got.size == walkDems.map(d => d._2 * d._3).sum)
    val dx = Array(1, 1, 0, -1, -1, -1, 0, 1)
    val dy = Array(0, 1, 1, 1, 0, -1, -1, -1)
    for ((k, w, h, z) <- walkDems) {
      for (y0 <- 0 until h; x0 <- 0 until w) {
        var x = x0; var y = y0; var d = Terrain.flowDir(z, w, h, x, y)
        while (d >= 0) { x += dx(d); y += dy(d); d = Terrain.flowDir(z, w, h, x, y) }
        assert(got((k, x0, y0)) == ((x, y)), s"k=$k ($x0,$y0)")
      }
    }
  }

  test("flowAccum/watershed: map-only, nothing persisted, fixed schemas") {
    import spark.implicits._
    // per-image kernels: no exchange in the executed plan, no
    // checkpoint or cache left behind
    val w = 96; val h = 4
    val z = Array.tabulate(w * h)(i => (100 + i % w).toDouble)
    val dem = Seq((0L, "ramp", w.toLong, h.toLong, enc(z, w, h)))
      .toDF("k", "image_id", "w", "h", "dem_bytes")
    val cell = Seq("k" -> LongType, "image_id" -> StringType,
      "x" -> IntegerType, "y" -> IntegerType)
    val sc = spark.sparkContext
    for ((op, tail) <- Seq[(DataFrame => DataFrame, Seq[(String, DataType)])](
        (Terrain.flowAccum, Seq("acc" -> LongType)),
        (Terrain.watershed, Seq("px" -> IntegerType, "py" -> IntegerType)))) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val df = op(dem)
      assert(df.count() == w * h)
      assert(sc.getPersistentRDDs.keySet.toSet == before)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(df.schema.map(f => f.name -> f.dataType) == cell ++ tail)
    }
  }

  test("contourAgg: hand golden on a 2×2 checker column") {
    import spark.implicits._
    // z = (0,1 / 0,1), level 1: both horizontal edges cross, neither
    // vertical does; chk = (0+131·0) + (0+131·1)
    val z = Array(0.0, 1, 0, 1)
    val df = Seq((enc(z, 2, 2), 2, 2)).toDF("b", "w", "h")
      .select(explode(Terrain.contourAgg(col("b"), col("w"), col("h"),
        array(lit(1L)))).as("c"))
    val r = df.collect()(0).getStruct(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 131L)
  }

  test("harrisAgg: rank-1 structure tensor on a plane → zero corners, golden checksum") {
    import spark.implicits._
    // z = 2x + 3y on 7×7: gx = 4, gy = 6 everywhere → det = 0,
    // r25 = −(Sxx+Syy)² = −468² at all 9 interior evals
    val w = 7; val h = 7
    val z = Array.tabulate(w * h)(i => (2 * (i % w) + 3 * (i / w)).toDouble)
    val df = Seq((enc(z, w, h), w, h)).toDF("b", "w", "h")
      .select(Terrain.harrisAgg(col("b"), col("w"), col("h")).as("r"))
    val r = df.collect()(0).getStruct(0)
    assert(r.getLong(0) == 9L && r.getLong(1) == 0L)
    assert(r.getLong(2) == 9L * -(468L * 468L))
  }

  test("lbpHistogram: hand goldens (all-above and none-above)") {
    import spark.implicits._
    // center 1 among 9s → every neighbor ≥ center → lbp 255;
    // center 9 among 1s → no bit set → lbp 0
    def hist(z: Array[Double]) =
      Seq((enc(z, 3, 3), 3, 3)).toDF("b", "w", "h")
        .select(explode(Terrain.lbpHistogram(col("b"), col("w"),
          col("h"))).as("e"))
        .collect().map(r => (r.getStruct(0).getLong(0),
          r.getStruct(0).getLong(1))).toList
    assert(hist(Array(9.0, 9, 9, 9, 1, 9, 9, 9, 9)) == List((255L, 1L)))
    assert(hist(Array(1.0, 1, 1, 1, 9, 1, 1, 1, 1)) == List((0L, 1L)))
  }

  test("trendAgg: recovers the sign field of a linear-in-t stack") {
    import spark.implicits._
    // v(t) = 100 + t·g with g = x − 1 ∈ {−1, 0, 1} on a 3×1 image →
    // exactly one rising and one falling pixel, num = 20·g
    val w = 3; val h = 1
    val eps = (0 until 4).map { t =>
      (t, enc(Array.tabulate(3)(x => (100 + t * (x - 1)).toDouble), w, h))
    }
    val df = Seq((w, h, eps)).toDF("w", "h", "eps")
      .select(Terrain.trendAgg(col("w"), col("h"), col("eps")).as("tr"))
    val r = df.collect()(0).getStruct(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L) // one up, one down
    assert(r.getLong(2) == 0L) // +20 and −20 cancel
  }

  test("costDistance == inline Dijkstra") {
    import spark.implicits._
    val ks = Seq(7L, 13L, 25L)
    val rows = ks.map { k =>
      val w = 24; val h = 18
      val z = Array.tabulate(w * h)(i =>
        Synth.demValue(k, i % w, i / w).toDouble)
      (k, s"img-$k", w, h, enc(z, w, h))
    }
    val dem = rows.toDF("k", "image_id", "w", "h", "dem_bytes")
    val got = Terrain.costDistance(dem).collect()
      .map(r => ((r.getLong(0), r.getInt(2), r.getInt(3)), r.getLong(5)))
      .toMap
    val dx = Array(1, 0, -1, 0, 1, 1, -1, -1)
    val dy = Array(0, 1, 0, -1, 1, -1, 1, -1)
    for ((k, _, w, h, _) <- rows) {
      val zv = Array.tabulate(w * h)(i => Synth.demValue(k, i % w, i / w))
      val c = zv.map(v => 1 + (v % 2).toInt)
      val dist = Array.fill(w * h)(Long.MaxValue)
      val pq = scala.collection.mutable.PriorityQueue
        .empty[(Long, Int)](Ordering.by(-_._1))
      for (i <- 0 until w * h if zv(i) % 19 == 0) {
        dist(i) = 0L; pq.enqueue((0L, i))
      }
      while (pq.nonEmpty) {
        val (d, i) = pq.dequeue()
        if (d == dist(i)) {
          val x = i % w; val y = i / w
          var j = 0
          while (j < 8) {
            val nx = x + dx(j); val ny = y + dy(j)
            if (nx >= 0 && nx < w && ny >= 0 && ny < h) {
              val wm = if (j < 4) 2L else 3L
              val nd = d + wm * (c(i) + c(ny * w + nx))
              if (nd < dist(ny * w + nx)) {
                dist(ny * w + nx) = nd; pq.enqueue((nd, ny * w + nx))
              }
            }
            j += 1
          }
        }
      }
      for (y <- 0 until h; x <- 0 until w) {
        val exp = dist(y * w + x)
        if (exp == Long.MaxValue)
          assert(!got.contains((k, x, y)), s"k=$k ($x,$y) reached")
        else assert(got((k, x, y)) == exp, s"k=$k ($x,$y)")
      }
    }
  }

  test("triRoughAgg: hand golden on a 3×3 DEM") {
    // z = [1 2 3 / 4 9 6 / 7 8 5]: center 9; TRI = |9-1|+|9-2|+|9-3|
    // +|9-4|+|9-6|+|9-7|+|9-8|+|9-5| = 8+7+6+5+3+2+1+4 = 36;
    // roughness = 9 − 1 = 8
    val z = Array(1d, 2d, 3d, 4d, 9d, 6d, 7d, 8d, 5d)
    import spark.implicits._
    val df = Seq((enc(z, 3, 3), 3, 3)).toDF("b", "w", "h")
      .select(Terrain.triRoughAgg(col("b"), col("w"), col("h")).as("t"))
    val r = df.collect()(0).getStruct(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((1L, 36L, 36L, 8L, 8L)))
  }

  test("strahlerCounts == memoized-recursion reference on synth DEMs") {
    import spark.implicits._
    val ks = Seq(7L, 13L, 31L, 44L)
    def zs(k: Long, w: Int, h: Int): Array[Double] =
      Array.tabulate(w * h)(i =>
        Synth.demValue(k, i % w, i / w).toDouble)
    // independent reference: direct recursive definition over the
    // upstream sets (memoized), not a topological queue
    def refHist(k: Long): Map[Int, Long] = {
      val w = Synth.wOf(k); val h = Synth.hOf(k)
      val z = zs(k, w, h)
      val tgt = Array.tabulate(w * h) { i =>
        val d = Terrain.flowDir(z, w, h, i % w, i / w)
        if (d < 0) -1 else (i / w + Array(0, 1, 1, 1, 0, -1, -1, -1)(d)) * w +
          (i % w + Array(1, 1, 0, -1, -1, -1, 0, 1)(d))
      }
      val ups = Array.fill(w * h)(List.empty[Int])
      for (i <- 0 until w * h if tgt(i) >= 0) ups(tgt(i)) ::= i
      val memo = scala.collection.mutable.Map.empty[Int, Int]
      def ord(c: Int): Int = memo.getOrElseUpdate(c, {
        if (ups(c).isEmpty) 1
        else {
          val os = ups(c).map(ord)
          val m = os.max
          m + (if (os.count(_ == m) >= 2) 1 else 0)
        }
      })
      (0 until w * h).map(ord).groupBy(identity)
        .map { case (o, v) => (o, v.size.toLong) }
    }
    val df = ks.map { k =>
      val w = Synth.wOf(k); val h = Synth.hOf(k)
      (k, enc(zs(k, w, h), w, h), w, h)
    }.toDF("k", "b", "w", "h")
      .withColumn("sc", explode(Terrain.strahlerCounts(col("b"),
        col("w"), col("h"))))
      .select(col("k"), col("sc._1").as("ord"), col("sc._2").as("cnt"))
    val got = df.collect()
      .groupBy(_.getLong(0))
      .map { case (k, rows) =>
        (k, rows.map(r => (r.getInt(1), r.getLong(2))).toMap)
      }
    for (k <- ks) assert(got(k) === refHist(k), s"k=$k")
    // non-degenerate: orders beyond 2 occur (real confluence trees)
    assert(got.values.exists(_.keys.max >= 3))
  }

  test("shotCutAgg: identical frames → SAD 0 no cut; all pixels " +
    "shifting a bin → SAD 2·n_px and a cut; epoch sort order holds") {
    import spark.implicits._
    val w = 8; val h = 4
    val a = Array.fill(w * h)(100.0)   // bin 0
    val b = Array.fill(w * h)(300.0)   // bin 2
    // epochs delivered out of order: t=2 first — kernel must sort
    val eps = Seq((2, enc(b, w, h)), (0, enc(a, w, h)), (1, enc(a, w, h)))
    val df = Seq((w, h)).toDF("w", "h")
      .withColumn("r", explode(Terrain.shotCutAgg(col("w"), col("h"),
        typedLit(eps))))
      .select(col("r._1").as("tf"), col("r._2").as("sad"),
        col("r._3").as("cut"))
    val got = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got === Array((0, 0L, 0L), (1, 2L * w * h, 1L)))
  }
}
