package graft

import org.apache.spark.sql.functions._
import graft.ops.Vision
import graft.text.KmvSketch

/** Brute-force cross-checks for the round-5 kernel pack: every fast
  * kernel (summed-area box, seam DP, RLE, hole fill, quadtree) must
  * match a literal restatement of its definition on pseudo-random
  * inputs, and the KMV sketch must be merge-order-invariant with the
  * exact k-th-distinct semantics. Deterministic LCG inputs — no RNG. */
class VisionPack2Spec extends SparkSuite {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .map(s => (s >>> 33))

  private def vals(seed: Long, n: Int, mod: Int): Array[Long] =
    lcg(seed).take(n).map(_ % mod).toArray

  test("integralBoxAgg equals the naive O(k²) window scan") {
    val w = 23; val h = 17; val r = 3
    val z = vals(7, w * h, 2000).map(_.toDouble)
    val bytes = graft.core.Codec.encode(Array(z), w, h, "raw-i16le")
    import spark.implicits._
    val row = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(Vision.integralBoxAgg(col("b"), col("w"), col("h"), lit(r)))
      .collect()(0).getStruct(0)
    var n = 0L; var bs = 0L; var bmax = Long.MinValue; var chk = 0L
    for (y <- r until h - r; x <- r until w - r) {
      var box = 0L
      for (dy <- -r to r; dx <- -r to r)
        box += z((y + dy) * w + (x + dx)).toLong
      n += 1; bs += box; bmax = math.max(bmax, box)
      chk += box * (x + 131L * y)
    }
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((n, bs, bmax, chk)))
  }

  test("seamAgg matches brute-force enumeration of all monotone seams") {
    // small enough to enumerate every (x path) seam exhaustively
    val w = 7; val h = 6
    val z = vals(13, w * h, 500).map(_.toDouble)
    val bytes = graft.core.Codec.encode(Array(z), w, h, "raw-i16le")
    import spark.implicits._
    val row = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(Vision.seamAgg(col("b"), col("w"), col("h")))
      .collect()(0).getStruct(0)
    def e(x: Int, y: Int): Long =
      math.abs(z(y * w + x + 1).toLong - z(y * w + x - 1).toLong) +
        math.abs(z((y + 1) * w + x).toLong - z((y - 1) * w + x).toLong)
    // enumerate all paths from row 1 to row h-2 with |dx| <= 1
    var best = Long.MaxValue
    def walk(x: Int, y: Int, cost: Long): Unit =
      if (y == h - 2) { if (cost < best) best = cost }
      else (-1 to 1).foreach { d =>
        val nx = x + d
        if (nx >= 1 && nx <= w - 2) walk(nx, y + 1, cost + e(nx, y + 1))
      }
    (1 to w - 2).foreach(x => walk(x, 1, e(x, 1)))
    assert(row.getLong(1) === best)
    assert(row.getLong(0) === (w - 2).toLong)
  }

  test("rleRuns / fillHoles / quadtreeLeaves against literal definitions") {
    val w = 21; val h = 19
    val m = vals(29, w * h, 7).map(_ < 3)
    // RLE brute force
    val runs = (0 until h).flatMap { y =>
      val row = (0 until w).map(x => m(y * w + x))
      val s = row.map(if (_) '1' else '0').mkString
      s.split("0").filter(_.nonEmpty).zipWithIndex.map(_._1.length)
    }
    val (nr, mx, sq, _) = Vision.rleRuns(m, w, h)
    assert(nr === runs.size.toLong)
    assert(mx === runs.max.toLong)
    assert(sq === runs.map(l => l.toLong * l).sum)

    // hole fill brute force: iterate relaxation to fixpoint
    val open = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      !m(i) && (x == 0 || y == 0 || x == w - 1 || y == h - 1)
    }
    var changed = true
    while (changed) {
      changed = false
      for (y <- 0 until h; x <- 0 until w) {
        val i = y * w + x
        if (!m(i) && !open(i)) {
          val nb = Seq((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1))
          if (nb.exists { case (nx, ny) =>
            nx >= 0 && nx < w && ny >= 0 && ny < h && open(ny * w + nx)
          }) { open(i) = true; changed = true }
        }
      }
    }
    val nHoleRef = (0 until w * h).count(i => !m(i) && !open(i)).toLong
    val nOpenRef = (0 until w * h).count(i => !m(i) && open(i)).toLong
    val (nHole, nOpen, _) = Vision.fillHoles(m, w, h)
    assert((nHole, nOpen) === ((nHoleRef, nOpenRef)))

    // quadtree: leaves partition the padded grid — Σ leaf areas = 32²,
    // and counts match a recursive reference implementation
    val size = 32
    def cell(x: Int, y: Int): Int =
      if (x < w && y < h && m(y * w + x)) 1 else 0
    def rec(x0: Int, y0: Int, s: Int): (Long, Long, Long) = {
      val vs = for (y <- y0 until y0 + s; x <- x0 until x0 + s) yield cell(x, y)
      if (vs.distinct.size == 1) {
        val l = java.lang.Integer.numberOfTrailingZeros(s)
        (1L, vs.head.toLong,
          (l + 1L) * ((x0 >> l) + 131L * (y0 >> l) + 7))
      } else {
        val hs = s / 2
        val parts = Seq((x0, y0), (x0 + hs, y0), (x0, y0 + hs),
          (x0 + hs, y0 + hs)).map { case (a, b) => rec(a, b, hs) }
        (parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
      }
    }
    val ref = rec(0, 0, size)
    assert(Vision.quadtreeLeaves(m, w, h, size) === ref)
  }

  test("KmvSketch: k-th distinct semantics and merge-order invariance") {
    val k = 5
    val values = vals(71, 60, 30).map(v => f"$v%032x") // dups guaranteed
    val distinctSorted = values.distinct.sorted
    val expect = if (distinctSorted.length >= k) distinctSorted(k - 1) else null
    val agg = new KmvSketch(k)
    // sequential reduce
    val seqRes = agg.finish(values.foldLeft(agg.zero)(agg.reduce))
    assert(seqRes === expect)
    // arbitrary split + merge (partial aggregation path)
    val groups = values.grouped(7).toSeq
    val merged = groups.map(g => g.foldLeft(agg.zero)(agg.reduce))
      .reduceRight(agg.merge)
    assert(agg.finish(merged) === expect)
    // under-k input yields null
    assert(agg.finish(values.take(3).foldLeft(agg.zero)(agg.reduce)) === null)
  }

  test("triangleCensus matches the all-pairs reference on the synth frame") {
    val im = graft.gen.Synth.imagesRange(spark, 3000, 8)
    val rows = im.select("k", "x0m", "y0m", "x1m", "y1m").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val pad = 3000L
    val edges = for {
      a <- rows; b <- rows
      if a._1 < b._1 &&
        a._2 - pad < b._4 + pad && b._2 - pad < a._4 + pad &&
        a._3 - pad < b._5 + pad && b._3 - pad < a._5 + pad
    } yield (a._1, b._1)
    val eset = edges.toSet
    val adj = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    var tri = 0L; var chk = 0L
    for ((a, b) <- edges; c <- adj.getOrElse(b, Set.empty))
      if (eset.contains((a, c))) { tri += 1; chk += a + b + c }
    val got = graft.ops.SpatialJoin.triangleCensus(im, pad).collect()(0)
    assert(got.getLong(0) === edges.length.toLong)
    assert(got.getLong(1) === tri)
    assert(got.getLong(2) === chk)
  }

  test("lapPyramidAgg == naive two-level reference (odd dims truncated)") {
    import spark.implicits._
    // odd dims exercise the no-parent trailing row/column exclusion
    val w = 21; val h = 13
    val z = vals(41, w * h, 1800).map(_.toDouble)
    def reduce(g: Array[Long], gw: Int, gh: Int): (Array[Long], Int, Int) = {
      val dw = gw / 2; val dh = gh / 2
      val o = Array.tabulate(dw * dh) { i =>
        val u = i % dw; val v = i / dw
        (g(2 * v * gw + 2 * u) + g(2 * v * gw + 2 * u + 1) +
          g((2 * v + 1) * gw + 2 * u) + g((2 * v + 1) * gw + 2 * u + 1)) / 4
      }
      (o, dw, dh)
    }
    val g0 = z.map(_.toLong)
    val (g1, w1, h1) = reduce(g0, w, h)
    val (g2, w2, h2) = reduce(g1, w1, h1)
    var n0 = 0L; var s0 = 0L; var m0 = 0L
    for (y <- 0 until 2 * h1; x <- 0 until 2 * w1) {
      val l = g0(y * w + x) - g1((y / 2) * w1 + (x / 2))
      n0 += 1; s0 += math.abs(l); m0 = math.max(m0, math.abs(l))
      // reconstruction identity on the covered region
      assert(l + g1((y / 2) * w1 + (x / 2)) == g0(y * w + x))
    }
    var s1 = 0L
    for (v <- 0 until 2 * h2; u <- 0 until 2 * w2)
      s1 += math.abs(g1(v * w1 + u) - g2((v / 2) * w2 + (u / 2)))
    val bytes = graft.core.Codec.encode(Array(z), w, h, "raw-i16le")
    val row = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(Vision.lapPyramidAgg(col("b"), col("w"), col("h")))
      .collect()(0).getStruct(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4)) === ((n0, s0, m0, s1, g2.sum)))
    assert(n0 == 4L * w1 * h1 && n0 < w.toLong * h) // truncation real
  }

  test("blurScoreAgg: linear ramps score 0 (Laplacian-null); a " +
    "single spike gives the hand value; brute variance parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val w = 5; val h = 5
    def run(z: Array[Double], tau: Long) = {
      val b = graft.core.Codec.encode(Array(z), w, h, "raw-i16le")
      Seq((b, w, h)).toDF("b", "w", "h")
        .select(graft.ops.Vision.blurScoreAgg(col("b"), col("w"),
          col("h"), lit(tau)).as("r"))
        .collect()(0).getStruct(0)
    }
    // ramp z = 3x + 7y: interior Laplacian identically 0, not sharp
    val ramp = Array.tabulate(w * h)(i => (3.0 * (i % w) + 7 * (i / w)))
    val rr = run(ramp, 0L)
    assert(rr.getLong(3) == 0L && rr.getLong(4) == 0L)
    // single spike 100 at center: L = +400 center, −100 at its 4
    // neighbors → n=9, s=0, s2=200000, score=1.8e6
    val spike = Array.tabulate(w * h)(i => if (i == 12) 100.0 else 0.0)
    val sr = run(spike, 0L)
    assert((sr.getLong(0), sr.getLong(1), sr.getLong(2), sr.getLong(3),
      sr.getLong(4)) === ((9L, 0L, 200000L, 1800000L, 1L)))
    // random fixture: score == n·ΣL²−(ΣL)² by brute recompute
    val z = vals(11, w * h, 1500).map(_.toDouble)
    val br = run(z, 0L)
    var n = 0L; var s = 0L; var s2 = 0L
    for (y <- 1 until h - 1; x <- 1 until w - 1) {
      val l = (4 * z(y * w + x) - z(y * w + x - 1) - z(y * w + x + 1) -
        z((y - 1) * w + x) - z((y + 1) * w + x)).toLong
      n += 1; s += l; s2 += l * l
    }
    assert(br.getLong(3) == n * s2 - s * s)
  }
}
