package graft.ops

import org.apache.spark.sql.functions._

/** Trajectory operators. Douglas-Peucker polyline simplification
  * (Douglas & Peucker 1973) stated divide-free so the DuckDB oracle
  * replays it exactly: a point P deviates more than ε from chord AB
  * iff cross(AB, AP)² > ε²·|AB|² (both sides exact integers for
  * integer coordinates), the split vertex is the max-cross² interior
  * point with ties → smallest index, and the kept set is the chord
  * endpoints plus every split vertex.
  *
  * Scale posture: tracks group by entity (one shuffle on the track
  * key), each track simplifies independently inside its kernel call
  * — the classic "per-key sequential algorithm, corpus-parallel"
  * shape. The oracle replays the recursion as a segment-splitting
  * recursive CTE (argmax via scatter + GROUP BY in the derived
  * table; segments strictly shrink, so it terminates naturally). */
object Tracks {

  /** Kept FLAGS for one track (points in index order). */
  def dpKeep(xs: Array[Long], ys: Array[Long], eps2: Long): Array[Boolean] = {
    val n = xs.length
    val keep = new Array[Boolean](n)
    if (n == 0) return keep
    keep(0) = true; keep(n - 1) = true
    val stack = scala.collection.mutable.Stack[(Int, Int)]()
    if (n > 2) stack.push((0, n - 1))
    while (stack.nonEmpty) {
      val (a, b) = stack.pop()
      if (b - a > 1) {
        val dx = xs(b) - xs(a); val dy = ys(b) - ys(a)
        val ab2 = dx * dx + dy * dy
        var best = -1L; var bestI = -1
        var i = a + 1
        while (i < b) {
          val cr = dx * (ys(i) - ys(a)) - dy * (xs(i) - xs(a))
          val c2 = cr * cr
          if (c2 > best) { best = c2; bestI = i }
          i += 1
        }
        if (best > eps2 * ab2) {
          keep(bestI) = true
          stack.push((a, bestI)); stack.push((bestI, b))
        }
      }
    }
    keep
  }

  /** Stay-point detection (Li et al. 2008 GeoLife, stated in point
    * counts so both engines agree exactly): anchor walk — from
    * anchor a, the breakout j is the first index with
    * dist²(p_a, p_j) > r²; the span [a, j) is a STAY iff it holds ≥
    * minPts points; the next anchor is j. Returns per-track
    * (n_stays, Σ anchor idx, Σ span length, Σ (x_a + 131·y_a)).
    * The oracle replays the walk as a strictly-advancing recursive
    * CTE (anchor chain; argmin breakout via scatter + GROUP BY). */
  val stayAgg = udf((pts: Seq[org.apache.spark.sql.Row], r2: Long,
                     minPts: Int) => {
    val sorted = pts.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toArray
    val n = sorted.length
    var nStays = 0L; var aSum = 0L; var spanSum = 0L; var chk = 0L
    var a = 0
    while (a < n) {
      var j = a + 1
      while (j < n && {
        val dx = sorted(j)._2 - sorted(a)._2
        val dy = sorted(j)._3 - sorted(a)._3
        dx * dx + dy * dy <= r2
      }) j += 1
      if (j - a >= minPts) {
        nStays += 1; aSum += sorted(a)._1; spanSum += j - a
        chk += sorted(a)._2 + 131L * sorted(a)._3
      }
      a = j
    }
    (nStays, aSum, spanSum, chk)
  })

  /** Convex hull of a point set (Andrew 1979 monotone chain, STRICT
    * vertices — collinear boundary points are dropped, matching the
    * oracle's edge rule "every other point strictly left OR
    * collinear strictly between the endpoints"). Returns the hull in
    * counterclockwise order. */
  def convexHull(pts: Array[(Long, Long)]): Array[(Long, Long)] = {
    val s = pts.distinct.sortBy(p => (p._1, p._2))
    val n = s.length
    if (n <= 2) return s
    def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val h = new Array[(Long, Long)](2 * n)
    var k = 0
    var i = 0
    while (i < n) { // lower hull
      while (k >= 2 && cross(h(k - 2), h(k - 1), s(i)) <= 0) k -= 1
      h(k) = s(i); k += 1
      i += 1
    }
    val lower = k + 1
    i = n - 2
    while (i >= 0) { // upper hull
      while (k >= lower && cross(h(k - 2), h(k - 1), s(i)) <= 0) k -= 1
      h(k) = s(i); k += 1
      i -= 1
    }
    h.take(k - 1)
  }

  /** Per-user hull aggregate: (n_distinct, n_hull, doubled shoelace
    * area, Σ hull (x + 131·y)). */
  val hullAgg = udf((pts: Seq[org.apache.spark.sql.Row]) => {
    val ps = pts.map(r => (r.getLong(1), r.getLong(2))).toArray
    val nd = ps.distinct.length.toLong
    val hull = convexHull(ps)
    val m = hull.length
    var area2 = 0L; var chk = 0L
    var i = 0
    while (i < m) {
      val a = hull(i); val b = hull((i + 1) % m)
      area2 += a._1 * b._2 - b._1 * a._2
      chk += a._1 + 131L * a._2
      i += 1
    }
    (nd, m.toLong, area2, chk)
  })

  /** Per-track aggregate: input (idx, x, y) structs in any order,
    * output (n_pts, n_kept, Σ kept idx, Σ kept (x + 131·y)). */
  val dpAgg = udf((pts: Seq[org.apache.spark.sql.Row], eps2: Long) => {
    val sorted = pts.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toArray
    val xs = sorted.map(_._2); val ys = sorted.map(_._3)
    val keep = dpKeep(xs, ys, eps2)
    var nk = 0L; var is = 0L; var chk = 0L
    var i = 0
    while (i < keep.length) {
      if (keep(i)) {
        nk += 1; is += sorted(i)._1
        chk += xs(i) + 131L * ys(i)
      }
      i += 1
    }
    (sorted.length.toLong, nk, is, chk)
  })

  /** Dynamic time warping distance (Sakoe & Chiba 1978) from one
    * track to a fixed reference path, exact integers: cost of a cell
    * is the squared euclidean distance between the aligned points,
    * dtw(i,j) = c(i,j) + min(dtw(i-1,j), dtw(i,j-1), dtw(i-1,j-1))
    * with dtw(0,0) = 0 and out-of-grid = +inf. Same corpus shape as
    * the other track kernels: one shuffle on the track key, the
    * O(n·m) DP runs per key, the (small) reference path is a literal
    * broadcast to every task. The oracle replays the DP as a
    * synchronous min-plus relaxation (the scatter recursive-CTE
    * pattern): after max(i+j) rounds every cell holds its exact DP
    * value. Returns (n_pts, dtw_cost). */
  def dtw(xs: Array[Long], ys: Array[Long],
          rx: Array[Long], ry: Array[Long]): Long = {
    val n = xs.length; val m = rx.length
    val Inf = Long.MaxValue / 4
    val prev = Array.fill(m + 1)(Inf)
    val cur = new Array[Long](m + 1)
    prev(0) = 0L
    var i = 1
    while (i <= n) {
      cur(0) = Inf
      var j = 1
      while (j <= m) {
        val dx = xs(i - 1) - rx(j - 1); val dy = ys(i - 1) - ry(j - 1)
        val c = dx * dx + dy * dy
        val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = if (best >= Inf) Inf else c + best
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i = i + 1
    }
    prev(m)
  }

  val dtwAgg = udf((pts: Seq[org.apache.spark.sql.Row],
                    rx: Seq[Long], ry: Seq[Long]) => {
    val sorted = pts.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toArray
    (sorted.length.toLong,
      dtw(sorted.map(_._2), sorted.map(_._3), rx.toArray, ry.toArray))
  })

  /** Discrete Fréchet distance (Eiter & Mannila 1994) from one track
    * to a fixed reference path — the min-MAX twin of [[dtw]]: the
    * cell cost is the exact squared euclidean distance, and
    * f(i,j) = max(c(i,j), min(f(i-1,j), f(i,j-1), f(i-1,j-1))) with
    * f(0,0) = 0 and out-of-grid = +inf (so f(1,1) = c(1,1)). The
    * "dog-leash" semantics: both walkers advance monotonically and
    * the answer is the smallest leash that suffices. Same per-key
    * DP kernel shape and the same min-max scatter recursive-CTE
    * oracle as DTW (GREATEST replaces + in the relax arm; no
    * addition means no overflow concern at the INF sentinel). */
  def frechet(xs: Array[Long], ys: Array[Long],
              rx: Array[Long], ry: Array[Long]): Long = {
    val n = xs.length; val m = rx.length
    val Inf = Long.MaxValue / 4
    val prev = Array.fill(m + 1)(Inf)
    val cur = new Array[Long](m + 1)
    prev(0) = 0L
    var i = 1
    while (i <= n) {
      cur(0) = Inf
      var j = 1
      while (j <= m) {
        val dx = xs(i - 1) - rx(j - 1); val dy = ys(i - 1) - ry(j - 1)
        val c = dx * dx + dy * dy
        val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = if (best >= Inf) Inf else math.max(c, best)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i = i + 1
    }
    prev(m)
  }

  val frechetAgg = udf((pts: Seq[org.apache.spark.sql.Row],
                        rx: Seq[Long], ry: Seq[Long]) => {
    val sorted = pts.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toArray
    (sorted.length.toLong,
      frechet(sorted.map(_._2), sorted.map(_._3), rx.toArray, ry.toArray))
  })

  /** Origin-destination flow matrix — the trip-table rollup of
    * trajectory analytics: per (track key, day) the trip is the
    * FIRST point → LAST point (by the in-track index), both snapped
    * to an integer cell grid, and the matrix counts trips per
    * (origin cell, destination cell). First/last are argmin/argmax
    * as struct MIN/MAX (lexicographic — exact in both engines, the
    * arg_max-free pattern). One shuffle to the (key, day) trip
    * grain, one map-side-combined count on the OD key.
    * Input columns: (user_id, day, idx, px, py); `cell` is the
    * grid pitch. Returns (o_cx, o_cy, d_cx, d_cy, n_trips). */
  def odFlows(pts: org.apache.spark.sql.DataFrame,
              cell: Long): org.apache.spark.sql.DataFrame = {
    val trips = pts.groupBy("user_id", "day").agg(
      min(struct(col("idx"), col("px"), col("py"))).as("o"),
      max(struct(col("idx"), col("px"), col("py"))).as("d"))
    trips.select(
        expr(s"o.px div $cell").as("o_cx"), expr(s"o.py div $cell").as("o_cy"),
        expr(s"d.px div $cell").as("d_cx"), expr(s"d.py div $cell").as("d_cy"))
      .groupBy("o_cx", "o_cy", "d_cx", "d_cy")
      .agg(count(lit(1)).as("n_trips"))
  }

  /** CONVOY / co-movement pair detection (the pair core of Jeung et
    * al. PVLDB 2008): users a < b are CO-LOCATED in time bucket tb
    * iff some event pair of theirs in that bucket has d² ≤ s² (exact
    * integers); a convoy pair is one co-located in ≥ minRun
    * CONSECUTIVE buckets. Per-bucket co-location comes from a
    * (bucket, cell)-banded pair join at pitch s (3×3 probe ring —
    * never all-pairs, and the band key includes the bucket so
    * distinct days never meet); runs use the classic island trick
    * (tb − row_number is constant on a consecutive run) over the
    * per-pair distinct bucket set. Input (u, px, py, t). Returns
    * (ua, ub, n_buckets, max_run) for pairs with max_run ≥ minRun. */
  def convoyPairs(pts: org.apache.spark.sql.DataFrame, s: Long,
                  tbSize: Long, minRun: Int):
      org.apache.spark.sql.DataFrame = {
    val tb = expr(s"t div $tbSize").as("tb")
    val meet = SpatialJoin.ringJoin(
        pts.select(col("u").as("ua"), col("px").as("xa"), col("py").as("ya"), tb),
        pts.select(col("u").as("ub"), col("px").as("xb"), col("py").as("yb"), tb),
        s, "tb")
      .where(col("ua") < col("ub"))
      .select("ua", "ub", "tb").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ua", "ub").orderBy("tb")
    meet.withColumn("grp", col("tb") - row_number().over(w))
      .groupBy("ua", "ub", "grp").agg(count(lit(1)).as("run"))
      .groupBy("ua", "ub")
      .agg(sum("run").as("n_buckets"), max("run").as("max_run"))
      .where(col("max_run") >= minRun)
  }

  /** Human-mobility statistics per track (González, Hidalgo &
    * Barabási 2008): the radius of gyration stated divide-free —
    * gyr_num = n²·r_g² = n·Σ|p|² − |Σp|² (exact integers, no
    * centroid divide) — plus the jump-length distribution pieces
    * (Σ and max of squared step distance in index order). One
    * window pass for the lagged steps, one map-side-combined
    * aggregate on the track key. Input: (user_id, idx, px, py).
    * Returns (user_id, n_pts, gyr_num, jump_sq_sum, jump_sq_max). */
  def mobilityStats(pts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("idx")
    val sq = (col("px") - col("lx")) * (col("px") - col("lx")) +
      (col("py") - col("ly")) * (col("py") - col("ly"))
    pts
      .withColumn("lx", lag(col("px"), 1).over(w))
      .withColumn("ly", lag(col("py"), 1).over(w))
      .groupBy("user_id").agg(
        count(lit(1)).as("n_pts"),
        (count(lit(1)) *
          (sum(col("px") * col("px")) + sum(col("py") * col("py"))) -
          (sum(col("px")) * sum(col("px")) +
           sum(col("py")) * sum(col("py")))).as("gyr_num"),
        coalesce(sum(when(col("lx").isNotNull, sq)), lit(0L))
          .as("jump_sq_sum"),
        coalesce(max(sq), lit(0L)).as("jump_sq_max"))
  }

  /** Step-bearing OCTANT histogram per track — the integer-exact
    * form of the turning/bearing distribution: each nonzero step
    * (dx, dy) falls in octant floor(8·angle/360°) (E=0 CCW to SE=7),
    * classified purely by sign and |dx| vs |dy| comparisons (no
    * trigonometry, so the oracle replays it verbatim). Sector
    * convention: [0°,45°) → 0, [45°,90°) → 1, …; zero steps carry no
    * bearing and are excluded. Returns per (user_id, oct):
    * n_steps and the squared-length checksum Σd². */
  def bearingOctants(pts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("idx")
    val dx = col("px") - lag(col("px"), 1).over(w)
    val dy = col("py") - lag(col("py"), 1).over(w)
    val oct = when(col("dy") >= 0 && col("dx") > 0 &&
        col("dy") < col("dx"), 0L)
      .when(col("dy") > 0 && col("dx") > 0 && col("dy") >= col("dx"), 1L)
      .when(col("dy") > 0 && col("dx") <= 0 && col("dy") > -col("dx"), 2L)
      .when(col("dy") > 0 && col("dx") < 0 && col("dy") <= -col("dx"), 3L)
      .when(col("dy") <= 0 && col("dx") < 0 && -col("dy") < -col("dx"), 4L)
      .when(col("dy") < 0 && col("dx") < 0 && -col("dy") >= -col("dx"), 5L)
      .when(col("dy") < 0 && col("dx") >= 0 && -col("dy") > col("dx"), 6L)
      .otherwise(7L)
    pts.select(col("user_id"), dx.as("dx"), dy.as("dy"))
      .where(col("dx").isNotNull && (col("dx") =!= 0 || col("dy") =!= 0))
      .withColumn("oct", oct)
      .groupBy("user_id", "oct")
      .agg(count(lit(1)).as("n_steps"),
        sum(col("dx") * col("dx") + col("dy") * col("dy")).as("d2_sum"))
  }

  /** Symmetric Hausdorff distance (squared, exact integers) between
    * each track's point SET and a fixed reference path: h_fwd =
    * max over track points of the min squared distance to any
    * reference point, h_bwd the reverse direction, h_sym their max.
    * Order-free, so no DP kernel is needed — the whole thing is a
    * codegen'd aggregation: cross join against the 6-row broadcast
    * reference (constant fanout), min per (track, point), max per
    * track. Input columns: (user_id, idx, px, py). */
  def hausdorff(pts: org.apache.spark.sql.DataFrame,
                rx: Seq[Long], ry: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import pts.sparkSession.implicits._
    val ref = broadcast(rx.zip(ry).zipWithIndex
      .map { case ((x, y), j) => (j.toLong, x, y) }.toDF("j", "rx", "ry"))
    val d = pts.crossJoin(ref).select(col("user_id"), col("idx"), col("j"),
      ((col("px") - col("rx")) * (col("px") - col("rx")) +
       (col("py") - col("ry")) * (col("py") - col("ry"))).as("d2"))
    val fwd = d.groupBy("user_id", "idx").agg(min(col("d2")).as("md"))
      .groupBy("user_id").agg(max(col("md")).as("h_fwd"))
    val bwd = d.groupBy("user_id", "j").agg(min(col("d2")).as("md"))
      .groupBy("user_id").agg(max(col("md")).as("h_bwd"))
    fwd.join(bwd, Seq("user_id"))
      .select(col("user_id"), col("h_fwd"), col("h_bwd"),
        greatest(col("h_fwd"), col("h_bwd")).as("h_sym"))
  }
}
