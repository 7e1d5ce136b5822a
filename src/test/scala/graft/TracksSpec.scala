package graft

import graft.ops.Tracks

/** Invariant checks for the trajectory kernels on deterministic LCG
  * point sets: Douglas-Peucker's ε-guarantee (every dropped point is
  * within ε of its enclosing simplified chord), convex-hull
  * containment + strict convexity, and the stay-point walk's radius/
  * size contracts. */
class TracksSpec extends SparkSuite {

  private def lcg(seed: Long, n: Int, mod: Int): Array[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
      .map(s => (s >>> 33) % mod).take(n).toArray

  private val xs = lcg(3, 80, 4096)
  private val ys = lcg(11, 80, 4096)

  test("dpKeep: every dropped point is within eps of its chord") {
    val eps2 = 1048576L
    val keep = Tracks.dpKeep(xs, ys, eps2)
    assert(keep.head && keep.last)
    val kept = keep.indices.filter(keep)
    kept.sliding(2).foreach { case Seq(a, b) =>
      val dx = xs(b) - xs(a); val dy = ys(b) - ys(a)
      val ab2 = dx * dx + dy * dy
      ((a + 1) until b).foreach { i =>
        val cr = dx * (ys(i) - ys(a)) - dy * (xs(i) - xs(a))
        assert(cr * cr <= eps2 * ab2,
          s"dropped point $i deviates more than eps from chord ($a,$b)")
      }
    }
    // and the simplification is non-trivial on random points
    assert(kept.size < xs.length && kept.size > 2)
  }

  test("convexHull: containment, strict turns, positive area") {
    val pts = xs.zip(ys)
    val hull = Tracks.convexHull(pts)
    def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val m = hull.length
    assert(m >= 3)
    // every input point on or left of every directed hull edge
    for (i <- 0 until m; p <- pts) {
      val a = hull(i); val b = hull((i + 1) % m)
      assert(cross(a, b, p) >= 0, s"point $p outside edge ($a,$b)")
    }
    // strict convexity at every vertex (no collinear vertices kept)
    for (i <- 0 until m)
      assert(cross(hull(i), hull((i + 1) % m), hull((i + 2) % m)) > 0)
    // CCW shoelace area is positive
    val area2 = (0 until m).map { i =>
      val a = hull(i); val b = hull((i + 1) % m)
      a._1 * b._2 - b._1 * a._2
    }.sum
    assert(area2 > 0)
  }

  test("stay-point walk: spans within radius, breakouts beyond") {
    val r2 = 1048576L; val minPts = 3
    // reference walk, written independently of the kernel's loop shape
    var a = 0; var stays = 0L; var spanSum = 0L
    while (a < xs.length) {
      val j = ((a + 1) until xs.length).find { i =>
        val dx = xs(i) - xs(a); val dy = ys(i) - ys(a)
        dx * dx + dy * dy > r2
      }.getOrElse(xs.length)
      if (j - a >= minPts) { stays += 1; spanSum += j - a }
      a = j
    }
    // drive the udf through a local session for the packaging path
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = xs.indices.map(i => (1L, i.toLong, xs(i), ys(i)))
      .toDF("user_id", "idx", "px", "py")
      .groupBy("user_id")
      .agg(collect_list(struct(col("idx"), col("px"), col("py")))
        .as("pts"))
      .select(Tracks.stayAgg(col("pts"), lit(r2), lit(minPts)).as("r"))
    val row = df.collect()(0).getStruct(0)
    assert(row.getLong(0) === stays)
    assert(row.getLong(2) === spanSum)
  }

  test("dtw: rolling-array kernel == memoized recursive definition") {
    val rx = Array(512L, 1024L, 2048L, 2560L, 3072L, 3584L)
    val ry = Array(3584L, 2560L, 2048L, 1024L, 768L, 256L)
    val n = 24
    val txs = xs.take(n); val tys = ys.take(n)
    val Inf = Long.MaxValue / 4
    val memo = scala.collection.mutable.Map[(Int, Int), Long]()
    def ref(i: Int, j: Int): Long =
      if (i == 0 && j == 0) 0L
      else if (i == 0 || j == 0) Inf
      else memo.getOrElseUpdate((i, j), {
        val dx = txs(i - 1) - rx(j - 1); val dy = tys(i - 1) - ry(j - 1)
        val best = Seq(ref(i - 1, j), ref(i, j - 1), ref(i - 1, j - 1)).min
        if (best >= Inf) Inf
        else dx * dx + dy * dy + best
      })
    val expect = ref(n, rx.length)
    assert(expect > 0 && expect < Inf)
    assert(Tracks.dtw(txs, tys, rx, ry) === expect)
    // degenerate identical paths cost 0
    assert(Tracks.dtw(rx, ry, rx, ry) === 0L)
  }

  test("frechet: rolling-array kernel == memoized recursive definition") {
    val rx = Array(512L, 1024L, 2048L, 2560L, 3072L, 3584L)
    val ry = Array(3584L, 2560L, 2048L, 1024L, 768L, 256L)
    val n = 24
    val txs = xs.take(n); val tys = ys.take(n)
    val Inf = Long.MaxValue / 4
    val memo = scala.collection.mutable.Map[(Int, Int), Long]()
    def ref(i: Int, j: Int): Long =
      if (i == 0 && j == 0) 0L
      else if (i == 0 || j == 0) Inf
      else memo.getOrElseUpdate((i, j), {
        val dx = txs(i - 1) - rx(j - 1); val dy = tys(i - 1) - ry(j - 1)
        val best = Seq(ref(i - 1, j), ref(i, j - 1), ref(i - 1, j - 1)).min
        if (best >= Inf) Inf
        else math.max(dx * dx + dy * dy, best)
      })
    val expect = ref(n, rx.length)
    assert(expect > 0 && expect < Inf)
    assert(Tracks.frechet(txs, tys, rx, ry) === expect)
    // identical paths: leash 0; and Fréchet never exceeds DTW
    assert(Tracks.frechet(rx, ry, rx, ry) === 0L)
    assert(Tracks.frechet(txs, tys, rx, ry) <=
      Tracks.dtw(txs, tys, rx, ry))
    // lower bound: any complete monotone walk aligns the LAST track
    // point with the LAST reference point, so that cell's cost is
    // unavoidable
    val dN = {
      val dx = txs(n - 1) - rx(rx.length - 1)
      val dy = tys(n - 1) - ry(ry.length - 1)
      dx * dx + dy * dy
    }
    assert(Tracks.frechet(txs, tys, rx, ry) >= dN)
  }

  test("hausdorff: DataFrame op == brute max-of-min both directions") {
    val rx = Seq(512L, 1024L, 2048L, 2560L, 3072L, 3584L)
    val ry = Seq(3584L, 2560L, 2048L, 1024L, 768L, 256L)
    val n = 24
    val txs = xs.take(n); val tys = ys.take(n)
    def d2(ax: Long, ay: Long, bx: Long, by: Long) =
      (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
    val fwd = (0 until n).map(i =>
      rx.indices.map(j => d2(txs(i), tys(i), rx(j), ry(j))).min).max
    val bwd = rx.indices.map(j =>
      (0 until n).map(i => d2(txs(i), tys(i), rx(j), ry(j))).min).max
    import spark.implicits._
    val pts = (0 until n).map(i => (1L, i.toLong, txs(i), tys(i)))
      .toDF("user_id", "idx", "px", "py")
    val row = Tracks.hausdorff(pts, rx, ry).collect()(0)
    assert(row.getLong(1) === fwd)
    assert(row.getLong(2) === bwd)
    assert(row.getLong(3) === math.max(fwd, bwd))
  }

  test("odFlows: DataFrame op == brute first/last trip matrix") {
    val cell = 512L
    val groups = 6; val per = 10; val n = groups * per
    val pxs = lcg(17, n, 4096); val pys = lcg(23, n, 4096)
    val trips = (0 until groups).map { g =>
      val b = g * per
      (pxs(b) / cell, pys(b) / cell,
        pxs(b + per - 1) / cell, pys(b + per - 1) / cell)
    }
    val expect = trips.groupBy(identity).map { case (od, v) =>
      (od._1, od._2, od._3, od._4, v.size.toLong) }.toSeq.sorted
    import spark.implicits._
    val pts = (for (g <- 0 until groups; i <- 0 until per) yield
      ((g % 3).toLong, (g / 3).toLong, i.toLong,
        pxs(g * per + i), pys(g * per + i)))
      .toDF("user_id", "day", "idx", "px", "py")
    val got = Tracks.odFlows(pts, cell)
      .orderBy("o_cx", "o_cy", "d_cx", "d_cy").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    // non-degenerate: at least one trip crosses cells
    assert(expect.exists(p => p._1 != p._3 || p._2 != p._4))
  }
}
