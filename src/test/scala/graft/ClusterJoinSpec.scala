package graft

import org.apache.spark.sql.functions._

/** Grid-DBSCAN and edit-distance-join contracts, both checked
  * against in-process brute force on deterministic fixtures: the
  * banded/gridded production paths must return EXACTLY the
  * quadratic reference answer (the prefilters are completeness-
  * preserving, not approximate). */
class ClusterJoinSpec extends SparkSuite {

  private def lcg(seed: Long, n: Int, mod: Int): Array[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
      .map(s => (s >>> 33) % mod).take(n).toArray

  test("dbscanGrid == brute-force DBSCAN (roles and min-id clusters)") {
    import spark.implicits._
    val n = 120
    val xs = lcg(7, n, 3000)
    val ys = lcg(19, n, 3000)
    val eps = 260L; val minPts = 3
    // brute force: neighbors within eps (euclidean, exact integers)
    val nbr = Array.tabulate(n)(i => (0 until n).filter { j =>
      j != i && {
        val dx = xs(i) - xs(j); val dy = ys(i) - ys(j)
        dx * dx + dy * dy <= eps * eps
      }
    })
    val core = (0 until n).filter(i => nbr(i).size + 1 >= minPts).toSet
    // components over core-core edges (min core id label)
    val label = scala.collection.mutable.Map[Int, Int]()
    core.toSeq.sorted.foreach { s =>
      if (!label.contains(s)) {
        var frontier = List(s)
        while (frontier.nonEmpty) {
          val v = frontier.head; frontier = frontier.tail
          if (!label.contains(v)) {
            label(v) = s
            frontier = nbr(v).filter(core).filterNot(label.contains).toList ++ frontier
          }
        }
      }
    }
    val expect = (0 until n).map { i =>
      if (core(i)) (i.toLong, 2L, label(i).toLong)
      else {
        val cs = nbr(i).filter(core)
        if (cs.nonEmpty) (i.toLong, 1L, cs.map(label(_)).min.toLong)
        else (i.toLong, 0L, -1L)
      }
    }
    // dbscanGrid expects footprint columns; feed degenerate boxes so
    // the doubled centroid (x0m+x1m+2Off, ...) equals 2*(pt - Off/..)
    // — just shift inputs so qx = 2*x, qy = 2*y
    val df = (0 until n).map(i => (i.toLong,
        xs(i) - graft.index.CellGrid.OffX, ys(i) - graft.index.CellGrid.OffY))
      .toDF("k", "x0m", "y0m")
      .withColumn("x1m", col("x0m")).withColumn("y1m", col("y0m"))
    val got = graft.ops.SpatialJoin.dbscanGrid(df, 2 * eps, minPts)
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // fixture is non-degenerate: all three roles appear
    assert(expect.map(_._2).distinct.sorted === Seq(0L, 1L, 2L))
  }

  test("editNearDupPairs == all-pairs levenshtein (k=2, mixed lengths)") {
    import spark.implicits._
    val vocab = Array("kite", "kites", "kitten", "sitting", "sitting",
      "mitten", "mittens", "bat", "cat", "cart", "smart", "start",
      "crate", "carte", "aaaaaaaaaa", "aaaaaaaaab", "baaaaaaaaa",
      "zzzz", "zzzzz", "yzzzz")
    val strs = vocab.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ia, a) <- strs; (ib, b) <- strs
      if ia < ib && lev(a, b) <= 2
    } yield (ia, ib, lev(a, b).toLong)).sortBy(p => (p._1, p._2))
    val got = graft.text.TextOps
      .editNearDupPairs(strs.toSeq.toDF("id", "t"), 2)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // non-degenerate: distances 0, 1 and 2 all occur
    assert(expect.map(_._3).distinct.sorted === Seq(0L, 1L, 2L))
  }

  test("moranStats == brute-force deviations and join counts") {
    import spark.implicits._
    val n = 60
    val xs = lcg(23, n, 40000)
    val ys = lcg(41, n, 40000)
    val pad = 3000L
    // brute: degenerate boxes overlap (after both-side pad) iff the
    // coordinate gaps are under 2*pad on both axes
    val edges = for {
      i <- 0 until n; j <- (i + 1) until n
      if math.abs(xs(i) - xs(j)) < 2 * pad &&
         math.abs(ys(i) - ys(j)) < 2 * pad
    } yield (i.toLong, j.toLong)
    val xAttr = (0 until n).map(i => i.toLong % 7)
    val bAttr = (0 until n).map(i => i.toLong % 2)
    val sx = xAttr.sum
    val d = xAttr.map(x => n * x - sx)
    val num = edges.map { case (a, b) => d(a.toInt) * d(b.toInt) }.sum
    val den = d.map(v => v * v).sum
    val jbb = edges.count { case (a, b) =>
      bAttr(a.toInt) == 1 && bAttr(b.toInt) == 1 }
    val jww = edges.count { case (a, b) =>
      bAttr(a.toInt) == 0 && bAttr(b.toInt) == 0 }
    val jbw = edges.size - jbb - jww
    val df = (0 until n).map(i => (i.toLong,
        xs(i) - graft.index.CellGrid.OffX, ys(i) - graft.index.CellGrid.OffY))
      .toDF("k", "x0m", "y0m")
      .withColumn("x1m", col("x0m")).withColumn("y1m", col("y0m"))
    val row = graft.ops.SpatialJoin.moranStats(df, pad).collect()(0)
    assert(row.getLong(0) === n.toLong)
    assert(row.getLong(1) === edges.size.toLong)
    assert(row.getLong(2) === num)
    assert(row.getLong(3) === den)
    assert((row.getLong(4), row.getLong(5), row.getLong(6)) ===
      ((jbb.toLong, jww.toLong, jbw.toLong)))
    // non-degenerate: edges exist and all three join-count classes hit
    assert(edges.nonEmpty && jbb > 0 && jww > 0 && jbw > 0)
  }

  test("hotspotBins == brute 3x3 neighborhood sums over the eps grid") {
    import spark.implicits._
    import graft.index.CellGrid.{OffX, OffY}
    val n = 90
    val xs = lcg(5, n, 50000)
    val ys = lcg(37, n, 50000)
    val eps = 4000L
    // degenerate boxes anchored so the doubled centroid is 2*coord
    val keys = (0 until n).map(i => (2 * xs(i) / eps, 2 * ys(i) / eps))
    val cnt = keys.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val expect = cnt.toSeq.map { case ((gi, gj), x) =>
      val ns = (for { di <- -1 to 1; dj <- -1 to 1 }
        yield cnt.getOrElse((gi + di, gj + dj), 0L)).sum
      (gi, gj, x, ns)
    }.sortBy(p => (p._1, p._2))
    val df = (0 until n).map(i => (i.toLong, xs(i) - OffX, ys(i) - OffY))
      .toDF("k", "x0m", "y0m")
      .withColumn("x1m", col("x0m")).withColumn("y1m", col("y0m"))
    val got = graft.ops.SpatialJoin.hotspotBins(df, eps)
      .orderBy("gi", "gj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
    // non-degenerate: some bin's neighborhood strictly exceeds itself
    assert(expect.exists(p => p._4 > p._3))
  }

  test("emergingHotspots == brute hot-now test × Mann-Kendall class") {
    import spark.implicits._
    val pitch = 10L; val tbSize = 10L
    // (gi, gj) -> event count per time bucket 0..2; bucket 2 is the
    // final slice. Hot cells hold 30 events there; forty isolated
    // 1-event cells pull the slice mean down so 30 beats 9·mean.
    val cells: Seq[((Long, Long), Seq[Int])] = Seq(
      (0L, 0L) -> Seq(1, 2, 30),    // hot, S = 3  → intensifying
      (10L, 0L) -> Seq(30, 0, 30),  // hot, S = 0  → persistent
      (20L, 0L) -> Seq(50, 40, 30), // hot, S = −3 → diminishing
      (40L, 40L) -> Seq(1, 2, 0),   // absent from the slice, S = 1 → emerging
      (50L, 50L) -> Seq(1, 0, 2),   // in the slice, not hot, S = 1 → emerging
      (60L, 60L) -> Seq(3, 0, 1),   // S = −1 → none
      (70L, 70L) -> Seq(0, 4, 0)) ++ // one bucket, S = 0 → none
      (0 until 40).map(i => (100L + 2 * i, 100L) -> Seq(0, 0, 1))
    val pts = for (((gi, gj), cs) <- cells; (c, tb) <- cs.zipWithIndex; e <- 0 until c)
      yield (gi * pitch + e % pitch, gj * pitch + (e * 3) % pitch,
        tb * tbSize + (e * 7) % tbSize)
    // brute force from the points alone
    val counts = pts.groupBy(p => (p._1 / pitch, p._2 / pitch, p._3 / tbSize))
      .map { case (k, v) => (k, v.size.toLong) }
    val tbMax = counts.keys.map(_._3).max
    val last = counts.collect { case ((gi, gj, tb), c) if tb == tbMax => ((gi, gj), c) }
    val (tot, ncl) = (last.values.sum, last.size.toLong)
    val expect = counts.keys.map(k => (k._1, k._2)).toSeq.distinct.map { case (gi, gj) =>
      val series = counts.collect { case ((g, h, t), c) if g == gi && h == gj => (t, c) }
        .toSeq.sortBy(_._1).map(_._2)
      val s = (for (i <- series.indices; j <- (i + 1) until series.size)
        yield java.lang.Long.signum(series(j) - series(i)).toLong).sum
      val nsum = (for (di <- -1 to 1; dj <- -1 to 1)
        yield last.getOrElse((gi + di, gj + dj), 0L)).sum
      val hot = last.contains((gi, gj)) && nsum * ncl > 9 * tot
      val cls = if (hot) (if (s > 0) "intensifying" else if (s == 0) "persistent" else "diminishing")
        else if (s > 0) "emerging" else "none"
      (gi, gj, series.sum, s, if (hot) 1L else 0L, cls)
    }.sortBy(p => (p._1, p._2))
    val got = graft.ops.SpatialJoin
      .emergingHotspots(pts.toDF("px", "py", "t"), pitch, tbSize)
      .orderBy("gi", "gj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === expect)
    assert(expect.map(_._6).toSet ==
      Set("intensifying", "persistent", "diminishing", "emerging", "none"))
  }

  test("knoxCounts == brute all-pairs contingency") {
    import spark.implicits._
    val n = 150
    val xs = lcg(61, n, 900)
    val ys = lcg(67, n, 900)
    val ts = lcg(71, n, 40000)
    val s = 64L; val tau = 900L
    var nS = 0L; var nT = 0L; var nST = 0L
    for (i <- 0 until n; j <- (i + 1) until n) {
      val d2 = (xs(i) - xs(j)) * (xs(i) - xs(j)) +
        (ys(i) - ys(j)) * (ys(i) - ys(j))
      val dt = math.abs(ts(i) - ts(j))
      if (d2 <= s * s) nS += 1
      if (dt <= tau) nT += 1
      if (d2 <= s * s && dt <= tau) nST += 1
    }
    val pts = (0 until n).map(i => (i.toLong, xs(i), ys(i), ts(i)))
      .toDF("id", "px", "py", "t")
    val r = graft.ops.SpatialJoin.knoxCounts(pts, s, tau).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((n.toLong, nS, nT, nST)))
    // non-degenerate: every cell of the contingency is populated
    assert(nS > 0 && nT > 0 && nST > 0 && nST < nS && nST < nT)
  }

  test("mobilityStats == brute gyration and jumps") {
    import spark.implicits._
    val n = 40
    val xs = lcg(73, n, 2048)
    val ys = lcg(79, n, 2048)
    val users = 4
    val pts = (0 until n).map(i =>
      ((i % users).toLong, (i / users).toLong, xs(i), ys(i)))
      .toDF("user_id", "idx", "px", "py")
    val got = graft.ops.Tracks.mobilityStats(pts)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    for (u <- 0 until users) {
      val idxs = (0 until n).filter(_ % users == u)
      val px = idxs.map(xs(_)); val py = idxs.map(ys(_))
      val m = idxs.size.toLong
      val gyr = m * (px.map(v => v * v).sum + py.map(v => v * v).sum) -
        (px.sum * px.sum + py.sum * py.sum)
      val jumps = (1 until idxs.size).map { i =>
        val dx = px(i) - px(i - 1); val dy = py(i) - py(i - 1)
        dx * dx + dy * dy
      }
      assert(got(u) === ((u.toLong, m, gyr, jumps.sum, jumps.max)))
    }
  }

  test("ripleyCounts == brute all-pairs at every radius") {
    import spark.implicits._
    val n = 160
    val xs = lcg(83, n, 1200)
    val ys = lcg(89, n, 1200)
    val radii = Seq(24L, 48L, 96L, 192L)
    val expect = radii.map { r =>
      var c = 0L
      for (i <- 0 until n; j <- (i + 1) until n) {
        val d2 = (xs(i) - xs(j)) * (xs(i) - xs(j)) +
          (ys(i) - ys(j)) * (ys(i) - ys(j))
        if (d2 <= r * r) c += 1
      }
      (r, c)
    }
    val pts = (0 until n).map(i => (i.toLong, xs(i), ys(i)))
      .toDF("id", "px", "py")
    val got = graft.ops.SpatialJoin.ripleyCounts(pts, radii)
      .orderBy("r").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect)
    // non-degenerate: strictly increasing counts across radii
    assert(expect.map(_._2).distinct.size == radii.size &&
      expect.head._2 > 0)
  }

  test("bearingOctants: CASE tree == independent atan2 sectors") {
    import spark.implicits._
    // every nonzero (dx,dy) in a grid, incl. all 8 boundary rays
    val deltas = for {
      dx <- -5 to 5; dy <- -5 to 5 if dx != 0 || dy != 0
    } yield (dx.toLong, dy.toLong)
    def octRef(dx: Long, dy: Long): Long = {
      val a = math.atan2(dy.toDouble, dx.toDouble)
      val deg = (math.toDegrees(a) + 360.0) % 360.0
      (deg / 45.0).toLong % 8
    }
    // one user per delta, each a 2-point track (origin, origin+delta)
    val pts = deltas.zipWithIndex.flatMap { case ((dx, dy), u) =>
      Seq((u.toLong, 0L, 100L, 100L), (u.toLong, 1L, 100L + dx, 100L + dy))
    }.toDF("user_id", "idx", "px", "py")
    val got = graft.ops.Tracks.bearingOctants(pts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == deltas.size)
    deltas.zipWithIndex.foreach { case ((dx, dy), u) =>
      val (_, oct, n, d2) = got(u)
      assert(n == 1L && d2 == dx * dx + dy * dy, s"($dx,$dy)")
      assert(oct == octRef(dx, dy), s"($dx,$dy): got $oct")
    }
  }

  test("coverageArea == brute rasterized union per coarse cell") {
    import spark.implicits._
    import graft.index.CellGrid.{OffX, OffY}
    val n = 70
    val xs = lcg(41, n, 400).map(_ + 100)
    val ys = lcg(43, n, 400).map(_ + 100)
    val ws = lcg(47, n, 36).map(_ + 5)
    val hs = lcg(53, n, 36).map(_ + 5)
    val pad = 10L; val cell = 128L
    // brute: rasterize half-open padded boxes in raw coord space
    // (shifted cell index = raw coord div 128 because the op's
    // OffX/OffY shifts cancel the -OffX anchoring below)
    val cov = scala.collection.mutable.Set.empty[(Long, Long)]
    val boxes = (0 until n).map { i =>
      (xs(i) - pad, xs(i) + ws(i) + pad, ys(i) - pad, ys(i) + hs(i) + pad)
    }
    for ((bx0, bx1, by0, by1) <- boxes; px <- bx0 until bx1;
         py <- by0 until by1) cov += ((px, py))
    val nr = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for ((bx0, bx1, by0, by1) <- boxes;
         ci <- bx0 / cell to (bx1 - 1) / cell;
         cj <- by0 / cell to (by1 - 1) / cell) nr((ci, cj)) += 1
    val expect = nr.keys.toSeq.sorted.map { case (ci, cj) =>
      val a = cov.count { case (px, py) =>
        px / cell == ci && py / cell == cj }
      (ci, cj, nr((ci, cj)), a.toLong)
    }
    val df = (0 until n).map(i => (i.toLong, xs(i) - OffX, ys(i) - OffY,
        xs(i) + ws(i) - OffX, ys(i) + hs(i) - OffY))
      .toDF("k", "x0m", "y0m", "x1m", "y1m")
    val got = graft.ops.SpatialJoin.coverageArea(df, pad, cell)
      .orderBy("ci", "cj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
    // non-degenerate: some cell's union is smaller than Σ box areas
    val sumArea = boxes.map(b => (b._2 - b._1) * (b._4 - b._3)).sum
    assert(cov.size < sumArea)
  }

  test("twoHopCensus == brute distinct <=2-hop reach") {
    import spark.implicits._
    import graft.index.CellGrid.{OffX, OffY}
    val n = 60
    val xs = lcg(29, n, 40000)
    val ys = lcg(31, n, 40000)
    val pad = 3000L
    val edges = for {
      i <- 0 until n; j <- (i + 1) until n
      if math.abs(xs(i) - xs(j)) < 2 * pad &&
         math.abs(ys(i) - ys(j)) < 2 * pad
    } yield (i, j)
    val adj = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val expect = (0 until n).filter(adj(_).nonEmpty).map { v =>
      val h1 = adj(v).toSet
      val h2 = h1.flatMap(adj) ++ h1 - v
      (v.toLong, h1.size.toLong, h2.size.toLong)
    }.sortBy(_._1)
    val df = (0 until n).map(i => (i.toLong, xs(i) - OffX, ys(i) - OffY))
      .toDF("k", "x0m", "y0m")
      .withColumn("x1m", col("x0m")).withColumn("y1m", col("y0m"))
    val got = graft.ops.SpatialJoin.twoHopCensus(df, pad)
      .orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // non-degenerate: some node reaches strictly more in 2 hops
    assert(expect.exists(p => p._3 > p._2))
  }

  test("segmentCrossings == brute CLRS intersect over cross-user pairs") {
    import spark.implicits._
    val n = 120
    val ax = lcg(101, n, 4000)
    val ay = lcg(103, n, 4000)
    val dx = lcg(107, n, 511).map(_ - 255)
    val dy = lcg(109, n, 511).map(_ - 255)
    // independent reference: the textbook direction/on-segment test
    // (CLRS 33.1), NOT the production bbox+product predicate
    def dir(px: Long, py: Long, qx: Long, qy: Long,
            rx: Long, ry: Long): Long =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    def onSeg(px: Long, py: Long, qx: Long, qy: Long,
              rx: Long, ry: Long): Boolean =
      math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
        math.min(py, qy) <= ry && ry <= math.max(py, qy)
    def intersects(a: (Long, Long, Long, Long),
                   b: (Long, Long, Long, Long)): Boolean = {
      val (p1x, p1y, p2x, p2y) = a
      val (p3x, p3y, p4x, p4y) = b
      val d1 = dir(p3x, p3y, p4x, p4y, p1x, p1y)
      val d2 = dir(p3x, p3y, p4x, p4y, p2x, p2y)
      val d3 = dir(p1x, p1y, p2x, p2y, p3x, p3y)
      val d4 = dir(p1x, p1y, p2x, p2y, p4x, p4y)
      if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
          ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) true
      else if (d1 == 0 && onSeg(p3x, p3y, p4x, p4y, p1x, p1y)) true
      else if (d2 == 0 && onSeg(p3x, p3y, p4x, p4y, p2x, p2y)) true
      else if (d3 == 0 && onSeg(p1x, p1y, p2x, p2y, p3x, p3y)) true
      else if (d4 == 0 && onSeg(p1x, p1y, p2x, p2y, p4x, p4y)) true
      else false
    }
    // planted extras exercising every degenerate family: T-touch,
    // endpoint-touch, collinear overlap, collinear disjoint (same
    // line, bboxes apart), and parallel near-miss
    val extra = Seq(
      (9001L, 0L, 100L, 500L, 300L, 500L),  // base for T-touch
      (9002L, 1L, 200L, 500L, 200L, 700L),  // T-touches 9001 at (200,500)
      (9003L, 2L, 300L, 500L, 300L, 900L),  // endpoint-touches 9001
      (9004L, 3L, 1000L, 1000L, 1200L, 1000L), // collinear pair base
      (9005L, 4L, 1100L, 1000L, 1300L, 1000L), // overlaps 9004 on the line
      (9006L, 5L, 1400L, 1000L, 1500L, 1000L), // same line, disjoint
      (9007L, 6L, 1000L, 1001L, 1200L, 1001L)) // parallel near-miss
    val segs = (0 until n).map { i =>
      (i.toLong, (i % 10).toLong, ax(i), ay(i),
        ax(i) + dx(i), ay(i) + dy(i))
    } ++ extra
    var nCand = 0L; var nCross = 0L
    for (i <- segs.indices; j <- segs.indices
         if segs(i)._2 < segs(j)._2) {
      val (_, _, x1, y1, x2, y2) = segs(i)
      val (_, _, x3, y3, x4, y4) = segs(j)
      val bbox = math.min(x1, x2) <= math.max(x3, x4) &&
        math.min(x3, x4) <= math.max(x1, x2) &&
        math.min(y1, y2) <= math.max(y3, y4) &&
        math.min(y3, y4) <= math.max(y1, y2)
      if (bbox) nCand += 1
      if (intersects((x1, y1, x2, y2), (x3, y3, x4, y4))) {
        assert(bbox) // sanity: intersecting pairs always bbox-overlap
        nCross += 1
      }
    }
    val df = segs.toDF("sid", "u", "ax", "ay", "bx", "by")
    val r = graft.ops.SpatialJoin.segmentCrossings(df, 256L).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((segs.size.toLong, nCand, nCross)))
    // non-degenerate: real crossings exist and candidates exceed them
    assert(nCross >= 5 && nCand > nCross)
  }

  test("mannKendallCells == brute pairwise-sign S per cell") {
    import spark.implicits._
    val n = 400
    val xs = lcg(113, n, 2048)
    val ys = lcg(127, n, 2048)
    val ts = lcg(131, n, 86400 * 10) // 10 day buckets
    val pitch = 512L; val tb = 86400L
    val counts = scala.collection.mutable.Map
      .empty[(Long, Long, Long), Long].withDefaultValue(0L)
    for (i <- 0 until n)
      counts((xs(i) / pitch, ys(i) / pitch, ts(i) / tb)) += 1
    val expect = counts.keys.map(k => (k._1, k._2)).toSeq.distinct.map {
      case (gi, gj) =>
        val series = counts.collect {
          case ((g, h, t), c) if g == gi && h == gj => (t, c)
        }.toSeq.sortBy(_._1)
        var s = 0L
        for (i <- series.indices; j <- (i + 1) until series.size)
          s += java.lang.Long.signum(series(j)._2 - series(i)._2)
        (gi, gj, series.size.toLong, series.map(_._2).sum, s)
    }.sortBy(p => (p._1, p._2))
    val pts = (0 until n).map(i => (xs(i), ys(i), ts(i)))
      .toDF("px", "py", "t")
    val got = graft.ops.SpatialJoin.mannKendallCells(pts, pitch, tb)
      .orderBy("gi", "gj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    // non-degenerate: both trend signs occur
    assert(expect.exists(_._5 > 0) && expect.exists(_._5 < 0))
  }

  test("colocationCounts == brute cross-pair and participation counts") {
    import spark.implicits._
    val na = 90; val nb = 110
    val ax = lcg(137, na, 1500); val ay = lcg(139, na, 1500)
    val bx = lcg(149, nb, 1500); val by = lcg(151, nb, 1500)
    val radii = Seq(40L, 90L, 180L)
    val expect = radii.map { r =>
      var pairs = 0L
      val pa = scala.collection.mutable.Set.empty[Int]
      val pb = scala.collection.mutable.Set.empty[Int]
      for (i <- 0 until na; j <- 0 until nb) {
        val d2 = (ax(i) - bx(j)) * (ax(i) - bx(j)) +
          (ay(i) - by(j)) * (ay(i) - by(j))
        if (d2 <= r * r) { pairs += 1; pa += i; pb += j }
      }
      (r, pairs, pa.size.toLong, pb.size.toLong)
    }
    val dfa = (0 until na).map(i => (i.toLong, ax(i), ay(i)))
      .toDF("id", "px", "py")
    val dfb = (0 until nb).map(j => (j.toLong, bx(j), by(j)))
      .toDF("id", "px", "py")
    val got = graft.ops.SpatialJoin.colocationCounts(dfa, dfb, radii)
      .orderBy("r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === expect)
    // non-degenerate: partial participation at the middle radius
    assert(expect(1)._3 > 0 && expect(1)._3 < na)
  }

  test("snapToSegments == brute rational argmin over all segments") {
    import spark.implicits._
    val np = 300; val ns = 25
    val px = lcg(157, np, 3000); val py = lcg(163, np, 3000)
    val ax = lcg(167, ns, 3000).map(_ + 200)
    val ay = lcg(173, ns, 3000).map(_ + 200)
    val dx = lcg(179, ns, 256).map(_ * 2 - 255)
    val dy = lcg(181, ns, 256).map(_ * 2 - 255)
    val r = 160L
    // brute: exact rational point-to-segment distance, min by
    // cross-multiplied compare, tie to smallest sid (BigInt — no
    // overflow concern in the reference)
    def d2(i: Int, s: Int): (BigInt, BigInt) = {
      val abx = BigInt(dx(s)); val aby = BigInt(dy(s))
      val apx = BigInt(px(i) - ax(s)); val apy = BigInt(py(i) - ay(s))
      val dd = abx * abx + aby * aby
      val t = apx * abx + apy * aby
      if (t <= 0) (apx * apx + apy * apy, BigInt(1))
      else if (t >= dd) {
        val bpx = apx - abx; val bpy = apy - aby
        (bpx * bpx + bpy * bpy, BigInt(1))
      } else { val c = apx * aby - apy * abx; (c * c, dd) }
    }
    val expect = (0 until np).flatMap { i =>
      val cands = (0 until ns).map(s => (s, d2(i, s)))
        .filter { case (_, (num, den)) => num <= BigInt(r * r) * den }
      if (cands.isEmpty) None
      else Some {
        val best = cands.minBy { case (s, (num, den)) =>
          // total order: rational value, then sid
          (num * cands.map(_._2._2).product / den, BigInt(s))
        }
        // recompute the true min pairwise to avoid the common-product
        // shortcut above being the load-bearing comparison
        val win = cands.reduceLeft { (u, v) =>
          val cmp = u._2._1 * v._2._2 - v._2._1 * u._2._2
          if (cmp < 0 || (cmp == 0 && u._1 < v._1)) u else v
        }
        assert(win == best)
        (i.toLong, win._1.toLong,
          win._2._1.toLong, win._2._2.toLong)
      }
    }.sortBy(_._1)
    val pts = (0 until np).map(i => (i.toLong, px(i), py(i)))
      .toDF("id", "px", "py")
    val segs = (0 until ns).map(s => (s.toLong, ax(s), ay(s),
      ax(s) + dx(s), ay(s) + dy(s))).toDF("sid", "ax", "ay", "bx", "by")
    val got = graft.ops.SpatialJoin.snapToSegments(pts, segs, 256L, r)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSeq
    assert(got === expect)
    // non-degenerate: some points matched, some not, and both the
    // endpoint (den=1) and interior (den=|AB|²) cases occur
    assert(expect.nonEmpty && expect.size < np &&
      expect.exists(_._4 == 1L) && expect.exists(_._4 > 1L))
  }

  test("nearestFacility == brute argmin census with tie rule") {
    import spark.implicits._
    val np = 200; val ns = 12
    val px = lcg(191, np, 2000); val py = lcg(193, np, 2000)
    val sx = lcg(197, ns, 2000); val sy = lcg(199, ns, 2000)
    val best = (0 until np).map { i =>
      (0 until ns).map { s =>
        val d2 = (px(i) - sx(s)) * (px(i) - sx(s)) +
          (py(i) - sy(s)) * (py(i) - sy(s))
        (d2, s.toLong)
      }.min // (d2, sid) lexicographic == distance then smallest id
    }
    val expect = best.groupBy(_._2).map { case (sid, v) =>
      (sid, v.size.toLong, v.map(_._1).sum)
    }.toSeq.sortBy(_._1)
    val pts = (0 until np).map(i => (i.toLong, px(i), py(i)))
      .toDF("id", "px", "py")
    val sites = (0 until ns).map(s => (s.toLong, sx(s), sy(s)))
      .toDF("sid", "sx", "sy")
    val got = graft.ops.SpatialJoin.nearestFacility(pts, sites)
      .orderBy("sid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // non-degenerate: at least one site unused or counts uneven
    assert(expect.map(_._2).max > np.toLong / ns)
  }

  test("kdeHeatmap == brute per-center Epanechnikov sums") {
    import spark.implicits._
    val n = 250; val r = 200L
    val px = lcg(211, n, 2400); val py = lcg(223, n, 2400)
    val acc = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long)].withDefaultValue((0L, 0L))
    // brute: every center in a wide window, not just the 3x3 ring
    for (i <- 0 until n; gi <- -2L to 13L; gj <- -2L to 13L) {
      val dx = px(i) - (gi * r + r / 2); val dy = py(i) - (gj * r + r / 2)
      val d2 = dx * dx + dy * dy
      if (d2 <= r * r) {
        val (c, w) = acc((gi, gj)); acc((gi, gj)) = (c + 1, w + (r * r - d2))
      }
    }
    val expect = acc.toSeq.map { case ((gi, gj), (c, w)) => (gi, gj, c, w) }
      .sortBy(p => (p._1, p._2))
    val pts = (0 until n).map(i => (px(i), py(i))).toDF("px", "py")
    val got = graft.ops.SpatialJoin.kdeHeatmap(pts, r)
      .orderBy("gi", "gj").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSeq
    assert(got === expect)
    // non-degenerate: a point contributes to multiple centers
    assert(expect.map(_._3).sum > n)
  }

  test("convoyPairs == brute per-bucket colocation runs") {
    import spark.implicits._
    val n = 300; val users = 8; val s = 300L; val tb = 1000L
    val px = lcg(227, n, 1500); val py = lcg(229, n, 1500)
    val ts = lcg(233, n, 8000) // 8 buckets
    val rows = (0 until n).map(i =>
      ((i % users).toLong, px(i), py(i), ts(i)))
    val meets = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    for (i <- 0 until n; j <- 0 until n
         if rows(i)._1 < rows(j)._1 && rows(i)._4 / tb == rows(j)._4 / tb) {
      val dx = rows(i)._2 - rows(j)._2; val dy = rows(i)._3 - rows(j)._3
      if (dx * dx + dy * dy <= s * s)
        meets += ((rows(i)._1, rows(j)._1, rows(i)._4 / tb))
    }
    val minRun = 3
    val expect = meets.groupBy(m => (m._1, m._2)).flatMap {
      case ((ua, ub), ms) =>
        val tbs = ms.map(_._3).toSeq.sorted
        val runs = tbs.zipWithIndex
          .groupBy { case (t, i) => t - i }.values.map(_.size.toLong)
        val mx = runs.max
        if (mx >= minRun) Some((ua, ub, tbs.size.toLong, mx)) else None
    }.toSeq.sortBy(p => (p._1, p._2))
    val df = rows.toDF("u", "px", "py", "t")
    val got = graft.ops.Tracks.convoyPairs(df, s, tb, minRun)
      .orderBy("ua", "ub").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSeq
    assert(got === expect)
    // non-degenerate: some qualifying pair has a GAP (n_buckets >
    // max_run) so the island logic is load-bearing
    assert(expect.nonEmpty && expect.exists(p => p._3 > p._4))
  }

  test("hilbertKey: order-2 golden, exhaustive adjacency + bijection") {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    // the canonical 4x4 Hilbert walk (order 2), d value per (x, y)
    val golden = Map(
      (0L, 0L) -> 0L, (1L, 0L) -> 1L, (1L, 1L) -> 2L, (0L, 1L) -> 3L,
      (0L, 2L) -> 4L, (0L, 3L) -> 5L, (1L, 3L) -> 6L, (1L, 2L) -> 7L,
      (2L, 2L) -> 8L, (2L, 3L) -> 9L, (3L, 3L) -> 10L, (3L, 2L) -> 11L,
      (3L, 1L) -> 12L, (2L, 1L) -> 13L, (2L, 0L) -> 14L, (3L, 0L) -> 15L)
    val g2 = (for (x <- 0L to 3L; y <- 0L to 3L) yield (x, y))
      .toDF("hx", "hy")
      .select(col("hx"), col("hy"),
        graft.ops.SpatialJoin.hilbertKey(col("hx"), col("hy"), 2).as("d"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(g2 === golden)
    // order 3: bijection 0..63 AND every consecutive pair of keys is
    // a unit Manhattan step — THE defining Hilbert property
    val g3 = (for (x <- 0L to 7L; y <- 0L to 7L) yield (x, y))
      .toDF("hx", "hy")
      .select(col("hx"), col("hy"),
        graft.ops.SpatialJoin.hilbertKey(col("hx"), col("hy"), 3).as("d"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(g3.map(_._1).toSeq === (0L until 64L))
    for (i <- 1 until 64) {
      val (px, py) = g3(i - 1)._2; val (cx, cy) = g3(i)._2
      assert(math.abs(cx - px) + math.abs(cy - py) == 1L, s"step $i")
    }
    // locality: on the full order-4 grid, hilbert total step length
    // (= 255, all unit) strictly beats morton's
    val pts = (for (x <- 0L to 15L; y <- 0L to 15L) yield (x, y))
      .toDF("px", "py")
    val r = graft.ops.SpatialJoin.curveLocality(pts, 1L, 4).collect()(0)
    assert(r.getLong(0) == 256L)
    assert(r.getLong(1) == (0L until 256L).sum) // keys are a bijection
    assert(r.getLong(2) == 255L) // hilbert: every step is unit
    assert(r.getLong(3) > r.getLong(2)) // morton jumps cost more
  }
}
