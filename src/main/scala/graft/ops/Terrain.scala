package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.core.Codec

/** Terrain & raster time-series analytics over single-band DEM
  * payloads — the classic geospatial derivative stack (slope, D8 flow
  * direction, D8 flow accumulation, per-pixel temporal trend) a user
  * of the reference would run right after the per-band algebra of
  * `GeoRaster` (/root/reference/GIP/GeoRaster.h:225-233 gives the
  * kernel machinery; the derivatives themselves are public method:
  * Horn 1981 "Hill shading and the reflectance map" for the gradient,
  * the ESRI/GRASS D8 convention for flow, ordinary least squares for
  * the trend).
  *
  * All per-pixel math is integer (or single-IEEE-op double), so every
  * operator is DuckDB-oracle value-exact. Scale posture: every
  * operator is decode-once per-image map work (no shuffle at all) —
  * the iterative ones too: cost-distance runs Dijkstra, and Strahler
  * order, flow accumulation and watershed run one pass each over the
  * shared D8 topological order [[flowOrder]], all in task memory. One
  * DEM is one row, so one raster's whole grid is always in one task;
  * the corpus is the scale axis.
  */
object Terrain {

  /** Horn-kernel neighbor weights: dzdx = Σ z(x+dx,y+dy)·dx·(2−|dy|),
    * dzdy = Σ z(x+dx,y+dy)·dy·(2−|dx|) over the 3×3 window — the
    * ±1/±2 stencil stated multiplicatively (what the oracle SQL
    * replays). Interior pixels only (Horn's window is undefined on
    * the border; GDAL's `gdaldem` emits nodata there too). */
  val SlopeDenom = 32.0 // 8 · cell size (4 mdeg/px)

  /** Per-image slope aggregate over interior pixels:
    * (n_int, Σ|dzdx|, Σ|dzdy|, Σ floor(1e6·slope)) where
    * slope = sqrt((dzdx/32)² + (dzdy/32)²). /32 is a power-of-two
    * divide and dzdx ≤ 4·zmax, so gx/gy and their squares are EXACT
    * doubles; sqrt and the final ×1e6 are one correctly-rounded IEEE
    * op each — bit-identical across engines. */
  val slopeAgg = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    var n = 0L; var sax = 0L; var say = 0L; var fs = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        def p(dx: Int, dy: Int): Long = z((y + dy) * w + (x + dx)).toLong
        val dzdx = (p(1, -1) + 2 * p(1, 0) + p(1, 1)) -
          (p(-1, -1) + 2 * p(-1, 0) + p(-1, 1))
        val dzdy = (p(-1, 1) + 2 * p(0, 1) + p(1, 1)) -
          (p(-1, -1) + 2 * p(0, -1) + p(1, -1))
        val gx = dzdx / SlopeDenom; val gy = dzdy / SlopeDenom
        n += 1; sax += math.abs(dzdx); say += math.abs(dzdy)
        fs += math.floor(math.sqrt(gx * gx + gy * gy) * 1e6).toLong
        x += 1
      }
      y += 1
    }
    (n, sax, say, fs)
  })

  /** Hillshade (Horn normals, fixed sun az 315° / alt 45° — the
    * gdaldem default): shade = max(0, n·s) with unit surface normal
    * n = (−gx, −gy, 1)/√(1+gx²+gy²) and sun vector
    * s = (−1/2, 1/2, √2/2) (the 315/45 constants are exact halves and
    * one correctly-rounded sqrt, so both engines hold the identical
    * double). gx/gy are exact multiples of 1/32; every remaining op
    * is a single IEEE rounding in a fixed order — bit-identical.
    * Aggregate per image over interior pixels:
    * (n_int, Σ floor(1e6·shade), n_shadow). */
  val hillshadeAgg = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    val sz = math.sqrt(2.0) / 2
    var n = 0L; var fs = 0L; var nsh = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        def p(dx: Int, dy: Int): Long = z((y + dy) * w + (x + dx)).toLong
        val dzdx = (p(1, -1) + 2 * p(1, 0) + p(1, 1)) -
          (p(-1, -1) + 2 * p(-1, 0) + p(-1, 1))
        val dzdy = (p(-1, 1) + 2 * p(0, 1) + p(1, 1)) -
          (p(-1, -1) + 2 * p(0, -1) + p(1, -1))
        val gx = dzdx / SlopeDenom; val gy = dzdy / SlopeDenom
        val num = gx / 2 - gy / 2 + sz
        val shade = num / math.sqrt(1.0 + (gx * gx + gy * gy))
        n += 1
        if (shade <= 0) nsh += 1
        else fs += math.floor(shade * 1e6).toLong
        x += 1
      }
      y += 1
    }
    (n, fs, nsh)
  })

  /** D8 neighbor order: code 0=E,1=SE,2=S,3=SW,4=W,5=NW,6=N,7=NE. */
  private val Dx = Array(1, 1, 0, -1, -1, -1, 0, 1)
  private val Dy = Array(0, 1, 1, 1, 0, -1, -1, -1)

  /** Flow direction of one cell: the in-grid neighbor with the
    * STEEPEST POSITIVE DROP z(c) − z(n) (unweighted-drop D8 variant;
    * ties → lowest code; no positive drop → −1, a pit/flat). Stated
    * as an integer argmin — key = (2048 − drop)·16 + code, minimize —
    * which is exactly the form the oracle replays (|drop| < 2048 for
    * the synth DEM's value range). */
  def flowDir(z: Array[Double], w: Int, h: Int, x: Int, y: Int): Int = {
    val zc = z(y * w + x).toLong
    var best = Long.MaxValue; var d = 0
    while (d < 8) {
      val nx = x + Dx(d); val ny = y + Dy(d)
      if (nx >= 0 && nx < w && ny >= 0 && ny < h) {
        val drop = zc - z(ny * w + nx).toLong
        val key = (2048L - drop) * 16 + d
        if (key < best) best = key
      }
      d += 1
    }
    if (2048L - best / 16 <= 0) -1 else (best % 16).toInt
  }

  /** Per-image histogram of D8 directions: Array[(dir, cnt)] rows
    * dir ∈ −1..7 (−1 = pit), explode-ready. */
  val flowDirCounts = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    val cnt = new Array[Long](9) // index = dir + 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { cnt(flowDir(z, w, h, x, y) + 1) += 1; x += 1 }
      y += 1
    }
    cnt.toSeq.zipWithIndex.collect { case (c, i) if c > 0 => (i - 1, c) }
  })

  /** TERRAIN RUGGEDNESS INDEX + ROUGHNESS per interior pixel (the two
    * remaining gdaldem products next to slope/hillshade/TPI): TRI is
    * the Wilson/gdaldem form Σ|z_c − z_n| over the 8 neighbors (kept
    * ×8 unscaled so it stays integer; gdaldem's mean is one /8 away),
    * roughness is max − min over the full 3×3 window. Aggregate per
    * image: (n_int, tri_sum, tri_max, rough_sum, rough_max) — all
    * exact integers. */
  val triRoughAgg = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    var n = 0L; var ts = 0L; var tm = 0L; var rs = 0L; var rm = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val c = z(y * w + x).toLong
        var tri = 0L
        var mx = c; var mn = c
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            if (dx != 0 || dy != 0) {
              val v = z((y + dy) * w + (x + dx)).toLong
              tri += math.abs(c - v)
              if (v > mx) mx = v
              if (v < mn) mn = v
            }
            dx += 1
          }
          dy += 1
        }
        val rough = mx - mn
        n += 1; ts += tri; rs += rough
        if (tri > tm) tm = tri
        if (rough > rm) rm = rough
        x += 1
      }
      y += 1
    }
    (n, ts, tm, rs, rm)
  })

  /** The D8 flow forest of one decoded DEM: each cell's downstream
    * index (−1 for a pit) and a Kahn topological order of the cells,
    * sources first. Every flow step needs a strictly positive drop, so
    * the forest is a DAG: the order holds all w·h cells and lists each
    * cell before its target. Memory: three Int[w·h] (target, in-degree,
    * order). */
  private def flowOrder(z: Array[Double], w: Int,
                        h: Int): (Array[Int], Array[Int]) = {
    val n = w * h
    val target = new Array[Int](n)
    val indeg = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = i % w; val y = i / w
      val d = flowDir(z, w, h, x, y)
      target(i) = if (d < 0) -1 else (y + Dy(d)) * w + (x + Dx(d))
      if (d >= 0) indeg(target(i)) += 1
      i += 1
    }
    val order = new Array[Int](n)
    var qh = 0; var qt = 0
    i = 0
    while (i < n) { if (indeg(i) == 0) { order(qt) = i; qt += 1 }; i += 1 }
    while (qh < qt) {
      val t = target(order(qh)); qh += 1
      if (t >= 0) {
        indeg(t) -= 1
        if (indeg(t) == 0) { order(qt) = t; qt += 1 }
      }
    }
    (target, order)
  }

  /** STRAHLER STREAM ORDER over the D8 flow forest (Strahler 1957):
    * cells with no upstream inflow have order 1; a cell's order is
    * the max of its upstream orders, +1 when ≥2 upstream cells attain
    * that max. Computed per image in ONE forward pass over
    * [[flowOrder]] (the per-key-sequential kernel shape: images
    * parallelize across the corpus, the per-image pass is linear).
    * Returns the per-order cell histogram [(ord, count)]. The oracle
    * replays it as a monotone fixpoint scatter-CTE (all-1 start; the
    * iterate never overshoots and converges within the flow-DAG depth
    * — measured ≤ 41 on the fixture, bound 48). */
  val strahlerCounts = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val (target, order) =
      flowOrder(Codec.decode(bytes, w, h, 1, "raw-i16le")(0), w, h)
    val n = w * h
    // per cell: (max upstream ord, count at max), then its own ord
    val mx = new Array[Int](n); val cm = new Array[Int](n)
    val ord = new Array[Int](n)
    for (c <- order) {
      ord(c) = if (mx(c) == 0) 1 else mx(c) + (if (cm(c) >= 2) 1 else 0)
      val t = target(c)
      if (t >= 0) {
        if (ord(c) > mx(t)) { mx(t) = ord(c); cm(t) = 1 }
        else if (ord(c) == mx(t)) cm(t) += 1
      }
    }
    val hist = scala.collection.mutable.Map.empty[Int, Long]
      .withDefaultValue(0L)
    ord.foreach(o => hist(o) += 1)
    hist.toSeq.sortBy(_._1)
  })

  /** Per-image kernel of [[flowAccum]]: (x, y, acc) for every cell. */
  private val flowAccumUdf = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val (target, order) =
      flowOrder(Codec.decode(bytes, w, h, 1, "raw-i16le")(0), w, h)
    val acc = Array.fill(w * h)(1)
    for (c <- order) if (target(c) >= 0) acc(target(c)) += acc(c)
    Seq.tabulate(w * h)(i => (i % w, i / w, acc(i).toLong))
  })

  /** D8 flow ACCUMULATION: acc(c) = number of cells whose flow path
    * passes through c (including c itself) — the upstream-area
    * operator behind stream extraction / watershed sizing.
    *
    * A decode-once PER-IMAGE kernel, like [[costDistance]]: every cell
    * starts at 1 and, in [[flowOrder]]'s sources-first order, adds its
    * count into its target's — each cell's count is final before it
    * is passed on. No exchange, checkpoint or round; per-task memory
    * is the decoded plane plus three Int[w·h] (target, order, acc;
    * in-degree while the order is built), besides the emitted rows.
    *
    * Input: dem table (k, image_id, w, h, dem_bytes). Output: one row
    * per CELL (k, image_id, x, y, acc: bigint). */
  def flowAccum(dem: DataFrame): DataFrame = cellRows(dem, flowAccumUdf, "acc")

  /** Per-image kernel of [[watershed]]: (x, y, px, py) for every cell. */
  private val watershedUdf = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val (target, order) =
      flowOrder(Codec.decode(bytes, w, h, 1, "raw-i16le")(0), w, h)
    val pit = new Array[Int](w * h)
    for (c <- order.reverseIterator)
      pit(c) = if (target(c) < 0) c else pit(target(c))
    Seq.tabulate(w * h)(i => (i % w, i / w, pit(i) % w, pit(i) / w))
  })

  /** WATERSHED basin labeling: every cell labeled by the PIT its flow
    * path terminates at (pits label themselves) — the D8 drainage
    * partition of the grid.
    *
    * A decode-once PER-IMAGE kernel: walking [[flowOrder]] backwards
    * visits each cell after its target, so a cell's label is itself
    * if it is a pit, else its target's label. No exchange, checkpoint
    * or round; per-task memory is the decoded plane plus three
    * Int[w·h] (target, order, label; in-degree while the order is
    * built), besides the emitted rows.
    *
    * Output: one row per cell (k, image_id, x, y, px, py). */
  def watershed(dem: DataFrame): DataFrame =
    cellRows(dem, watershedUdf, "px", "py")

  /** Explodes a per-image kernel's (x, y, v1, v2, …) tuples into rows
    * (k, image_id, x, y, names…) — map-only: each DEM row is decoded
    * and walked inside one task. */
  private def cellRows(dem: DataFrame, kernel: UserDefinedFunction,
                       names: String*): DataFrame =
    dem
      .withColumn("e", explode(kernel(col("dem_bytes"),
        col("w").cast("int"), col("h").cast("int"))))
      .select(Seq(col("k"), col("image_id"), col("e._1").as("x"),
        col("e._2").as("y")) ++ names.zipWithIndex.map { case (n, i) =>
          col(s"e._${i + 3}").as(n) }: _*)

  /** Per-image multi-source Dijkstra kernel for [[costDistance]]:
    * decode once, run the binary-heap label-setting pass in task
    * memory, emit (x, y, c, dist) for every reached cell. Cost
    * c = 1 + z%2 ∈ {1,2}, source iff z % 19 == 0 (≈5% of cells —
    * the seed set a user would load as roads/stations). */
  private val costDistUdf = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    val n = w * h
    val c = new Array[Int](n)
    val dist = Array.fill(n)(Long.MaxValue)
    val pq = new java.util.PriorityQueue[Array[Long]](
      (a: Array[Long], b: Array[Long]) => java.lang.Long.compare(a(0), b(0)))
    var i = 0
    while (i < n) {
      val v = z(i).toLong
      c(i) = (1 + v % 2).toInt
      if (v % 19 == 0) { dist(i) = 0L; pq.add(Array(0L, i.toLong)) }
      i += 1
    }
    while (!pq.isEmpty) {
      val e = pq.poll()
      val d = e(0); val i0 = e(1).toInt
      if (d == dist(i0)) {
        val x = i0 % w; val y = i0 / w
        var j = 0
        while (j < 8) {
          val nx = x + Dx(j); val ny = y + Dy(j)
          if (nx >= 0 && nx < w && ny >= 0 && ny < h) {
            val ni = ny * w + nx
            val wm = if (Dx(j) == 0 || Dy(j) == 0) 2L else 3L
            val nd = d + wm * (c(i0) + c(ni))
            if (nd < dist(ni)) { dist(ni) = nd; pq.add(Array(nd, ni.toLong)) }
          }
          j += 1
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Long)]()
    i = 0
    while (i < n) {
      if (dist(i) != Long.MaxValue)
        out += ((i % w, i / w, c(i), dist(i)))
      i += 1
    }
    out.toSeq
  })

  /** COST-DISTANCE (accumulated-cost surface — Dijkstra 1959):
    * dist(v) = min over paths from any source cell of Σ step costs,
    * with the integer chamfer metric of Borgefors 1986 lifted to
    * per-cell costs — step(a→b) = 2·(c(a)+c(b)) axial, 3·(c(a)+c(b))
    * diagonal. All integer, so the oracle is value-exact; source
    * dist = 0, every step ≥ 4.
    *
    * Computed as a decode-once PER-IMAGE kernel (the per-key-
    * sequential shape strahler/viewshed already use): the table
    * schema bounds every raster to one row, so the whole grid is
    * always reachable inside a single task and a shuffle-based
    * iteration (the pre-r6 Bellman-Ford label correction: per round
    * an 8-way candidate explode + join + min-merge + checkpoint, for
    * hop-count-of-longest-optimal-path rounds) only pays rounds ×
    * job overhead to move rows that never leave the task (guide
    * §1.2/§2.4: the cheapest plan has ZERO exchanges here — corpus
    * parallelism is the scale axis, per-raster work is O(n log n)).
    * Measured at sf0.1/local[32]: 12.4 s → ~0.4 s, identical rows.
    * A raster too large for one row/task would need the distributed
    * label correction back — delta-stepping (bucketed merge order)
    * is the form; the schema rules that out today.
    *
    * Input: dem table (k, image_id, w, h, dem_bytes). Output: one row
    * per REACHED cell (k, image_id, x, y, c, dist); images without a
    * source cell emit nothing. */
  def costDistance(dem: DataFrame): DataFrame =
    cellRows(dem, costDistUdf, "c", "dist")

  /** CONTOUR crossings (the marching-squares primitive): for each iso
    * level, a grid edge is crossed iff exactly one endpoint sits below
    * the level ((z1 < L) ≠ (z2 < L)). Per (image, level):
    * horizontal-edge crossings, vertical-edge crossings, and an
    * integer positional checksum Σ (x + 131·y) over crossing edges
    * (left/top endpoint). Pure integer — value-exact. */
  val contourAgg = udf((bytes: Array[Byte], w: Int, h: Int,
                        levels: Seq[Long]) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    levels.map { l =>
      var nh = 0L; var nv = 0L; var chk = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val zc = z(y * w + x) < l
          if (x + 1 < w && zc != (z(y * w + x + 1) < l)) {
            nh += 1; chk += x + 131L * y
          }
          if (y + 1 < h && zc != (z((y + 1) * w + x) < l)) {
            nv += 1; chk += x + 131L * y
          }
          x += 1
        }
        y += 1
      }
      (l, nh, nv, chk)
    }
  })

  /** HARRIS corner response with k = 1/25 stated in integers:
    * R·25 = 25·(Sxx·Syy − Sxy²) − (Sxx+Syy)², where the structure
    * tensor S is the 3×3 window sum of central-difference gradient
    * products. Evaluated where the full 5×5 support exists
    * (x,y ∈ [2, w−3]×[2, h−3]). Per image: (n_eval, n_corner with
    * R·25 > 0, Σ clamp(R·25, ±10⁶)) — the clamp keeps the checksum
    * in BIGINT range without losing sign structure. */
  val harrisAgg = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    def gx(x: Int, y: Int): Long =
      z(y * w + x + 1).toLong - z(y * w + x - 1).toLong
    def gy(x: Int, y: Int): Long =
      z((y + 1) * w + x).toLong - z((y - 1) * w + x).toLong
    var n = 0L; var nc = 0L; var chk = 0L
    var y = 2
    while (y < h - 2) {
      var x = 2
      while (x < w - 2) {
        var sxx = 0L; var syy = 0L; var sxy = 0L
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            val a = gx(x + dx, y + dy); val b = gy(x + dx, y + dy)
            sxx += a * a; syy += b * b; sxy += a * b
            dx += 1
          }
          dy += 1
        }
        val r25 = 25L * (sxx * syy - sxy * sxy) -
          (sxx + syy) * (sxx + syy)
        n += 1
        if (r25 > 0) nc += 1
        chk += math.max(-1000000L, math.min(1000000L, r25))
        x += 1
      }
      y += 1
    }
    (n, nc, chk)
  })

  /** LBP (local binary pattern, Ojala et al. — the classic texture
    * descriptor): per interior pixel, bit d (D8 code order) is set iff
    * z(neighbor_d) ≥ z(center); returns the per-image 256-bin
    * histogram as (lbp, cnt) rows. Pure integer — value-exact. Runs
    * on the DEM band (the linear reflectance ramps produce a
    * degenerate two-pattern histogram). */
  val lbpHistogram = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    val cnt = new Array[Long](256)
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val zc = z(y * w + x)
        var code = 0; var d = 0
        while (d < 8) {
          if (z((y + Dy(d)) * w + (x + Dx(d))) >= zc) code |= 1 << d
          d += 1
        }
        cnt(code) += 1
        x += 1
      }
      y += 1
    }
    cnt.toSeq.zipWithIndex.collect { case (c, i) if c > 0 => (i.toLong, c) }
  })

  /** VIEWSHED from an observer at cell (0,0) with antenna height 2:
    * target (tx,ty) is visible iff no sampled cell along the
    * observer→target line blocks the sight line. Line sampling is the
    * integer DDA both engines state identically: at major-axis step
    * s ∈ [1, m−1] (m = max(tx,ty); all coordinates non-negative) the
    * sample cell is (⌊(2·s·tx+m)/(2m)⌋, ⌊(2·s·ty+m)/(2m)⌋) — the
    * round-half-up lattice point on the ideal line. Blocking is the
    * cross-multiplied slope test (z_s − z_o)·m > (z_t − z_o)·s — pure
    * integer, no division anywhere. Adjacent targets (m = 1) have no
    * intermediate samples and are always visible. Per image:
    * (n_vis, n_blocked, Σ (x+131·y) over visible targets). */
  val viewshedAgg = udf((bytes: Array[Byte], w: Int, h: Int) => {
    val z = Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
    val zo = z(0).toLong + 2
    var nv = 0L; var nb = 0L; var chk = 0L
    var ty = 0
    while (ty < h) {
      var tx = 0
      while (tx < w) {
        if (tx != 0 || ty != 0) {
          val m = math.max(tx, ty).toLong
          val zt = z(ty * w + tx).toLong
          var blocked = false
          var s = 1L
          while (s < m && !blocked) {
            val sx = (2 * s * tx + m) / (2 * m)
            val sy = (2 * s * ty + m) / (2 * m)
            if ((z(sy.toInt * w + sx.toInt).toLong - zo) * m >
                (zt - zo) * s) blocked = true
            s += 1
          }
          if (blocked) nb += 1 else { nv += 1; chk += tx + 131L * ty }
        }
        tx += 1
      }
      ty += 1
    }
    (nv, nb, chk)
  })

  /** Per-pixel OLS trend over a T-epoch stack, aggregated per image.
    * For each pixel, num = T·Σ(t·v_t) − (Σt)·(Σ v_t) — the integer
    * numerator of the least-squares slope (the constant denominator
    * T·Σt²−(Σt)² only scales it, so sign/zero tests need no divide).
    * Output: (n_pos, n_neg, num_sum) — rising cells, falling cells,
    * integer checksum. Epochs arrive as (t, bytes) structs in any
    * order; the kernel indexes by t. */
  val trendAgg = udf((w: Int, h: Int,
                      epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0))).sortBy(_._1)
    val tN = byT.size.toLong
    val tSum = byT.map(_._1.toLong).sum
    var nPos = 0L; var nNeg = 0L; var s = 0L
    var i = 0
    while (i < w * h) {
      var sv = 0L; var stv = 0L
      byT.foreach { case (t, p) =>
        val v = p(i).toLong; sv += v; stv += t * v
      }
      val num = tN * stv - tSum * sv
      if (num > 0) nPos += 1 else if (num < 0) nNeg += 1
      s += num
      i += 1
    }
    (nPos, nNeg, s)
  })

  /** Per-pixel CUSUM changepoint over a T-epoch stack (Page 1954 /
    * the standard mean-shift scan statistic, stated in integers so
    * the oracle is value-exact): for each split s ∈ [1, T−1] the
    * scaled deviation is D_s = T·Σ_{t<s} v_t − s·Σ_t v_t (= T·s·
    * (mean(prefix) − mean(all)) — the constant 1/(T·s) factor only
    * scales, so the argmax is unchanged and no divide is needed).
    * The pixel's changepoint is s* = argmax |D_s|, ties → smallest
    * s. Returns per-split rows (s*, n_px, Σ|D_s*|) for the per-image
    * changepoint histogram. Decode-once map work — no shuffle. */
  val changepointAgg = udf((w: Int, h: Int,
                            epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0)))
      .sortBy(_._1)
    val T = byT.size
    val n = new Array[Long](T)
    val d = new Array[Long](T)
    val vt = new Array[Long](T)
    var i = 0
    while (i < w * h) {
      var tot = 0L
      var t = 0
      while (t < T) { vt(t) = byT(t)._2(i).toLong; tot += vt(t); t += 1 }
      var pre = 0L
      var bestAbs = -1L; var bestS = 0
      var s = 1
      while (s < T) {
        pre += vt(s - 1)
        val ds = T * pre - s * tot
        val a = math.abs(ds)
        if (a > bestAbs) { bestAbs = a; bestS = s }
        s += 1
      }
      n(bestS) += 1; d(bestS) += bestAbs
      i += 1
    }
    (1 until T).map(s => (s, n(s), d(s)))
  })

  /** Zonal temporal trend — the composition showcase: the zonal
    * covering-cell join of [[Stats.zonalStats]] wrapped around the
    * per-pixel OLS numerator of [[trendAgg]]. Epoch payloads are
    * pre-grouped per image BEFORE the polygon join, so the pair
    * kernel receives the whole stack in its row and window-clamps to
    * the zone exactly like the single-band zonal kernel (pixel
    * center cx = x0m + resM·x + resM/2 ∈ [px0, px1)). Per zone:
    * (n_px, n_pos rising, n_neg falling, Σ num). Shuffle budget: one
    * broadcast join + one fid-keyed 4-field aggregate — pixels never
    * shuffle. */
  def zonalTrend(epochImages: DataFrame, footprints: DataFrame,
                 polys: DataFrame, resM: Long = 4L): DataFrame = {
    val eps = epochImages.groupBy("k", "w", "h")
      .agg(collect_list(struct(col("t").cast("int").as("t"),
        col("bytes"))).as("eps"))
    val imgs = footprints
      .select("k", "x0m", "y0m", "x1m", "y1m").join(eps, "k")
    val joined = SpatialJoin.joinRects(imgs, polys)
    def ceilDiv(a: Long, b: Long): Long = Math.floorDiv(a + b - 1, b)
    val zt = udf((w: Int, h: Int, x0m: Long, y1m: Long,
                  eps: Seq[org.apache.spark.sql.Row],
                  px0: Long, py0: Long, px1: Long, py1: Long) => {
      val byT = eps.map(r => (r.getInt(0),
        Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0)))
        .sortBy(_._1)
      val tN = byT.size.toLong
      val tSum = byT.map(_._1.toLong).sum
      val half = resM / 2
      val xLo = math.max(0L, ceilDiv(px0 - x0m - half, resM)).toInt
      val xHi = math.min(w.toLong, ceilDiv(px1 - x0m - half, resM)).toInt
      val yLo = math.max(0L, Math.floorDiv(y1m - half - py1, resM) + 1).toInt
      val yHi = math.min(h.toLong, Math.floorDiv(y1m - half - py0, resM) + 1).toInt
      var n = 0L; var nPos = 0L; var nNeg = 0L; var ns = 0L
      var y = yLo
      while (y < yHi) {
        var x = xLo
        while (x < xHi) {
          val i = y * w + x
          var sv = 0L; var stv = 0L
          byT.foreach { case (t, p) =>
            val v = p(i).toLong; sv += v; stv += t * v
          }
          val num = tN * stv - tSum * sv
          if (num > 0) nPos += 1 else if (num < 0) nNeg += 1
          n += 1; ns += num
          x += 1
        }
        y += 1
      }
      (n, nPos, nNeg, ns)
    })
    joined
      .withColumn("z", zt(col("w").cast("int"), col("h").cast("int"),
        col("x0m"), col("y1m"), col("eps"),
        col("px0m"), col("py0m"), col("px1m"), col("py1m")))
      .groupBy("fid")
      .agg(sum(col("z._1")).as("n_px"), sum(col("z._2")).as("n_pos"),
        sum(col("z._3")).as("n_neg"), sum(col("z._4")).as("num_sum"))
      .where(col("n_px") > 0)
  }

  /** Histogram matching (the classic radiometric-normalization LUT,
    * Gonzalez & Woods §3.3): map epoch `ta`'s values so their CDF
    * matches epoch `tb`'s — LUT(v) = min{ u present in ref :
    * cdf_ref(u) ≥ cdf_src(v) }, all integer comparisons (equal pixel
    * counts make the LUT total). Per image: (n_px, Σ|LUT(v)−v|,
    * Σ LUT(v), Σ LUT(v)·(x+131·y)). Decode-once map work; the
    * oracle replays the LUT as a cdf-inequality join + MIN. */
  val histMatchAgg = udf((w: Int, h: Int, ta: Int, tb: Int,
                          epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0))).toMap
    val va = byT(ta); val vb = byT(tb)
    val n = w * h
    var vmax = 0
    var i = 0
    while (i < n) {
      val a = va(i).toInt; val b = vb(i).toInt
      if (a > vmax) vmax = a
      if (b > vmax) vmax = b
      i += 1
    }
    val ha = new Array[Long](vmax + 1)
    val hb = new Array[Long](vmax + 1)
    i = 0
    while (i < n) { ha(va(i).toInt) += 1; hb(vb(i).toInt) += 1; i += 1 }
    // two-pointer CDF walk: lut(v) = min ref value u with
    // cdfB(u) >= cdfA(v), over values actually present
    val lut = new Array[Int](vmax + 1)
    var cdfA = 0L; var cdfB = 0L
    var u = 0
    while (u <= vmax && hb(u) == 0) u += 1
    if (u <= vmax) cdfB = hb(u)
    var v = 0
    while (v <= vmax) {
      if (ha(v) > 0) {
        cdfA += ha(v)
        while (cdfB < cdfA && u < vmax) {
          u += 1
          while (u < vmax && hb(u) == 0) u += 1
          cdfB += hb(u)
        }
        lut(v) = u
      }
      v += 1
    }
    var shift = 0L; var ls = 0L; var chk = 0L
    i = 0
    while (i < n) {
      val a = va(i).toInt
      val m = lut(a).toLong
      shift += math.abs(m - a); ls += m
      chk += m * ((i % w) + 131L * (i / w))
      i += 1
    }
    (n.toLong, shift, ls, chk)
  })

  /** Joint histogram between two epochs — the co-occurrence table
    * mutual-information / change-matrix registration metrics build
    * on (Viola & Wells 1997 uses its MI; the gate checks the exact
    * integer table itself). Bins are value div 256 on each axis;
    * returns per-bin rows (b0, b3, n_px, Σ(v_b − v_a)). */
  val jointHistAgg = udf((w: Int, h: Int, ta: Int, tb: Int,
                          epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0))).toMap
    val va = byT(ta); val vb = byT(tb)
    val acc = scala.collection.mutable.LinkedHashMap[(Long, Long), (Long, Long)]()
    var i = 0
    while (i < w * h) {
      val a = va(i).toLong; val b = vb(i).toLong
      val key = (a / 256, b / 256)
      val cur = acc.getOrElse(key, (0L, 0L))
      acc(key) = (cur._1 + 1, cur._2 + (b - a))
      i += 1
    }
    acc.toSeq.map { case ((ba, bb), (n, ds)) => (ba, bb, n, ds) }
  })

  /** Radiometric cross-calibration regression between two epochs —
    * relative radiometric normalization by per-image OLS of epoch-b
    * pixels on epoch-a pixels (the regression counterpart of the
    * histogram-matching LUT): emits the EXACT integer moments that
    * determine the fit — n, Σx, Σy, sxy = n·Σxy − Σx·Σy, sxx =
    * n·Σx² − (Σx)² (slope = sxy/sxx, intercept = (Σy·sxx −
    * Σx·sxy)/(n·sxx) are each one rational step away). Bounds:
    * v ≤ 2012, n ≤ 4096 px ⇒ n·Σxy ≤ 6.8e13 — Long-exact. One
    * decode pair per image, no cross-image shuffle. */
  val radcalAgg = udf((w: Int, h: Int, ta: Int, tb: Int,
                       epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0))).toMap
    val va = byT(ta); val vb = byT(tb)
    var n = 0L; var sx = 0L; var sy = 0L; var sxy = 0L; var sxx = 0L
    var i = 0
    while (i < w * h) {
      val x = va(i).toLong; val y = vb(i).toLong
      n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
      i += 1
    }
    (n, sx, sy, n * sxy - sx * sy, n * sxx - sx * sx)
  })

  /** Temporal best-pixel composite (the max-value-composite rule of
    * Holben 1986, the standard cloud-free compositing recipe): per
    * pixel the winning epoch is argmax v_t, ties → earliest t.
    * Returns per-epoch rows (t_win, n_px, Σ v_win) — the per-image
    * composite provenance histogram plus winner checksum. */
  val compositeAgg = udf((w: Int, h: Int,
                          epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0)))
      .sortBy(_._1)
    val T = byT.size
    val n = new Array[Long](T)
    val sv = new Array[Long](T)
    var i = 0
    while (i < w * h) {
      var bestV = Long.MinValue; var bestT = 0
      var t = 0
      while (t < T) {
        val v = byT(t)._2(i).toLong
        if (v > bestV) { bestV = v; bestT = t }
        t += 1
      }
      n(bestT) += 1; sv(bestT) += bestV
      i += 1
    }
    (0 until T).map(t => (t, n(t), sv(t)))
  })

  /** Shot-boundary detection over an epoch/frame stack (the
    * histogram-SAD cut detector of video segmentation pipelines —
    * the clip-splitting step of a multimodal training-data curator):
    * per consecutive frame pair, SAD of the 128-wide intensity
    * histograms; a cut fires when 128·SAD exceeds n_px (the
    * sensitivity constant is the detector's tunable). Integer-exact;
    * one decode per frame, per-image work O(T·n_px). Returns rows
    * (t_from, sad, cut). */
  val shotCutAgg = udf((w: Int, h: Int,
                        epochs: Seq[org.apache.spark.sql.Row]) => {
    val byT = epochs.map(r => (r.getInt(0),
      Codec.decode(r.getAs[Array[Byte]](1), w, h, 1, "raw-i16le")(0)))
      .sortBy(_._1)
    val T = byT.size
    val hists = Array.ofDim[Long](T, 64)
    var t = 0
    while (t < T) {
      val p = byT(t)._2
      var i = 0
      while (i < w * h) {
        hists(t)(Math.floorDiv(p(i).toLong, 128L).toInt) += 1
        i += 1
      }
      t += 1
    }
    (0 until T - 1).map { tf =>
      var sad = 0L
      var b = 0
      while (b < 64) {
        sad += math.abs(hists(tf)(b) - hists(tf + 1)(b)); b += 1
      }
      (tf, sad, if (128L * sad > w.toLong * h) 1L else 0L)
    }
  })
}
