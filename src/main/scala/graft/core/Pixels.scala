package graft.core

/** Nodata-aware pixel kernels — the Spark-side re-creation of the
  * reference's lazy per-pixel function chain
  * (/root/reference/GIP/gip/GeoRaster.h:201-363, applied at read
  * /root/reference/GIP/gip/GeoRaster.h:504-524).
  *
  * Nodata is NaN inside decoded planes. The reference's restore rule —
  * "output is nodata wherever the ORIGINAL raw sample was nodata,
  * regardless of the chain" — is enforced by `applyChain`, which guards
  * every composed op with the input-NaN mask (a plain NaN-propagation
  * chain would lose nodata through comparisons that yield 0/1).
  *
  * All kernels are pure Scala on Array[Double]; inside Spark they run in
  * typed map / UDF position per row (one image per row), so no shuffle —
  * the Catalyst plan stays a single projection, matching the reference's
  * fused chunk loop.
  */
object Pixels {
  type Op = Double => Double

  // ---- §2.3 scalar chain ops (band ⊕ scalar) ----
  def gt(v: Double): Op   = x => if (x > v) 1.0 else 0.0
  def gte(v: Double): Op  = x => if (x >= v) 1.0 else 0.0
  def lt(v: Double): Op   = x => if (x < v) 1.0 else 0.0
  def lte(v: Double): Op  = x => if (x <= v) 1.0 else 0.0
  def eq(v: Double): Op   = x => if (x == v) 1.0 else 0.0
  def bxor(v: Long): Op   = x => (x.toLong ^ v).toDouble
  def add(v: Double): Op  = _ + v
  def sub(v: Double): Op  = _ - v
  def mul(v: Double): Op  = _ * v
  def div(v: Double): Op  = _ / v
  def maxv(v: Double): Op = x => math.max(x, v)
  def minv(v: Double): Op = x => math.min(x, v)
  def pow(v: Double): Op  = math.pow(_, v)
  val sqrt: Op  = math.sqrt
  val log: Op   = math.log
  val log10: Op = math.log10
  val exp: Op   = math.exp
  val abs: Op   = math.abs
  val sign: Op  = x => if (x > 0) 1.0 else if (x < 0) -1.0 else 0.0
  val cos: Op = math.cos; val sin: Op = math.sin; val tan: Op = math.tan
  val acos: Op = math.acos; val asin: Op = math.asin; val atan: Op = math.atan
  val cosh: Op = math.cosh; val sinh: Op = math.sinh; val tanh: Op = math.tanh
  val sinc: Op = x => if (x == 0.0) 1.0 else math.sin(x) / x

  /** Linear rescale [minin,maxin]→[minout,maxout] with clamp — the
    * reference's scale() (/root/reference/GIP/gip/GeoRaster.h:347-352). */
  /** autoscale (/root/reference/GIP/gip/GeoRaster.h:355-363, image-wide
    * GeoImage.h:238-244): linear rescale of the band's OWN range —
    * min..max, or percentile(percent)..percentile(100−percent) when
    * percent > 0 (tail trimming) — onto [minout, maxout], clamped.
    * Composition of the global stats/percentile pass and [[scale]],
    * exactly as the reference composes them. */
  def autoscale(p: Array[Double], minout: Double, maxout: Double,
                percent: Double = 0.0): Array[Double] = {
    val (lo, hi) =
      if (percent > 0)
        (percentile(p, percent), percentile(p, 100 - percent))
      else {
        val st = stats(p); (st.min, st.max)
      }
    if (hi == lo) applyChain(p, Seq(_ => minout))
    else applyChain(p, Seq(scale(lo, hi, minout, maxout)))
  }

  def scale(minin: Double, maxin: Double, minout: Double, maxout: Double): Op = {
    val gain = (maxout - minout) / (maxin - minin)
    x => {
      val v = (x - minin) * gain + minout
      math.max(minout, math.min(maxout, v))
    }
  }

  /** Gain/offset applied at the read boundary (raw*gain + offset on
    * valid pixels, /root/reference/GIP/gip/GeoRaster.h:496-501) and its
    * write-side inverse ((v-offset)/gain on non-nodata,
    * /root/reference/GIP/gip/GeoRaster.h:562-577). */
  def applyGainOffset(p: Array[Double], gain: Double, offset: Double): Array[Double] =
    p.map(v => if (v.isNaN) Double.NaN else v * gain + offset)

  def inverseGainOffset(p: Array[Double], gain: Double, offset: Double): Array[Double] =
    p.map(v => if (v.isNaN) Double.NaN else (v - offset) / gain)

  /** Apply a chain with the reference's nodata-restore postcondition. */
  def applyChain(p: Array[Double], ops: Seq[Op]): Array[Double] = {
    val out = new Array[Double](p.length)
    var i = 0
    while (i < p.length) {
      val raw = p(i)
      if (raw.isNaN) out(i) = Double.NaN
      else {
        var v = raw
        ops.foreach(op => v = op(v))
        out(i) = if (v.isNaN || v.isInfinite) Double.NaN else v
      }
      i += 1
    }
    out
  }

  /** Band ⊕ band (the reference does this eagerly inside algorithms,
    * e.g. (nir-red)/(nir+red) /root/reference/GIP/GeoAlgorithms.cpp:512;
    * nodata if either operand is nodata). */
  def zip(a: Array[Double], b: Array[Double], f: (Double, Double) => Double): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = if (a(i).isNaN || b(i).isNaN) Double.NaN else {
        val v = f(a(i), b(i))
        if (v.isInfinite) Double.NaN else v
      }
      i += 1
    }
    out
  }

  /** Mask application: pixels where mask != 1 become nodata
    * (/root/reference/GIP/gip/GeoRaster.h:474-482). */
  def applyMask(p: Array[Double], mask: Array[Double]): Array[Double] =
    zip(p, mask, (v, m) => if (m == 1.0) v else Double.NaN)

  // ---- §2.5 statistics ----
  /** (count, sum, min, max, sumsq, sumcube) over valid pixels — one pass;
    * feeds mean/stddev/skew like the reference's stats()
    * (/root/reference/GIP/GeoRaster.cpp:82-123). */
  final case class Stats(count: Long, sum: Double, min: Double, max: Double,
                         sumsq: Double, sumcube: Double) {
    def mean: Double   = if (count == 0) Double.NaN else sum / count
    def stddev: Double =
      if (count == 0) Double.NaN
      else math.sqrt(math.max(0.0, sumsq / count - mean * mean))
    def skew: Double = {
      val m = mean; val sd = stddev
      if (count == 0 || sd == 0.0) Double.NaN
      else (sumcube / count - 3 * m * sumsq / count + 2 * m * m * m) / (sd * sd * sd)
    }
  }

  def stats(p: Array[Double]): Stats = statsN(p, p.length)

  /** (valid count, Σ (v·scale).toLong) over a plane; NaN is nodata.
    * Each term TRUNCATES toward zero, like the oracle's CAST. */
  def validSum(p: Array[Double], scale: Double = 1.0): (Long, Long) = {
    var n = 0L; var s = 0L; var i = 0
    while (i < p.length) {
      if (!p(i).isNaN) { n += 1; s += (p(i) * scale).toLong }
      i += 1
    }
    (n, s)
  }

  /** (valid count, Σ floor(v·scale)) over a plane; NaN is nodata.
    * Each term FLOORS, like the oracle's FLOOR. */
  def validFloorSum(p: Array[Double], scale: Double): (Long, Long) = {
    var n = 0L; var s = 0L; var i = 0
    while (i < p.length) {
      if (!p(i).isNaN) { n += 1; s += math.floor(p(i) * scale).toLong }
      i += 1
    }
    (n, s)
  }

  /** Length-bounded variant for reusable scratch buffers (hot decode
    * paths keep per-thread buffers sized to the max payload and bound
    * the pass by the live prefix — zero allocation per image). */
  def statsN(p: Array[Double], len: Int): Stats = {
    var n = 0L; var s = 0.0; var s2 = 0.0; var s3 = 0.0
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var i = 0
    while (i < len) {
      val v = p(i)
      if (!v.isNaN) {
        n += 1; s += v; s2 += v * v; s3 += v * v * v
        if (v < mn) mn = v
        if (v > mx) mx = v
      }
      i += 1
    }
    if (n == 0) Stats(0, 0, Double.NaN, Double.NaN, 0, 0)
    else Stats(n, s, mn, mx, s2, s3)
  }

  /** Fixed-width histogram over [min,max] like the reference
    * (/root/reference/GIP/GeoRaster.cpp:141-176): bin = floor((v-min)/
    * step) clamped to [0,bins-1]; nodata excluded. */
  def histogram(p: Array[Double], bins: Int): Array[Long] = {
    val st = stats(p)
    histogramIn(p, bins, st.min, st.max)
  }

  def histogramIn(p: Array[Double], bins: Int, mn: Double, mx: Double): Array[Long] =
    histogramInN(p, p.length, bins, mn, mx)

  def histogramInN(p: Array[Double], len: Int, bins: Int, mn: Double, mx: Double): Array[Long] = {
    val counts = new Array[Long](bins)
    if (mx <= mn) { counts(0) = statsN(p, len).count; return counts }
    val step = (mx - mn) / bins
    var i = 0
    while (i < len) {
      val v = p(i)
      if (!v.isNaN) {
        var b = ((v - mn) / step).toInt
        if (b >= bins) b = bins - 1
        if (b < 0) b = 0
        counts(b) += 1
      }
      i += 1
    }
    counts
  }

  /** Percentile via linear interpolation on a 100-bin cumulative
    * histogram — the same histogram-interpolation FAMILY as the
    * reference (/root/reference/GIP/GeoRaster.cpp:125-138), NOT an
    * exact quantile. Not bit-identical to the reference: that code
    * interpolates a float32 xaxis over (max−min)/(bins−1) intervals
    * with p==0/p==99 shortcuts; this implementation interpolates the
    * target rank inside its (max−min)/bins bin in double precision,
    * which is what the engine's SQL oracle reproduces exactly. */
  def percentile(p: Array[Double], pct: Double): Double =
    percentileN(p, p.length, pct)

  def percentileN(p: Array[Double], len: Int, pct: Double): Double = {
    val st = statsN(p, len)
    if (st.count == 0) return Double.NaN
    if (st.max == st.min) return st.min
    val hist = histogramInN(p, len, 100, st.min, st.max)
    percentileFromHist(hist, st.count, st.min, st.max, pct)
  }

  /** The interpolation walk over a (possibly merged) histogram — the
    * shared kernel behind the per-image percentile AND the distributed
    * corpus percentile (same arithmetic in the same order, so merging
    * per-image histograms into common bins reproduces the single-array
    * result bit-for-bit). */
  def percentileFromHist(hist: Array[Long], count: Long,
                         mn: Double, mx: Double, pct: Double): Double = {
    val bins = hist.length
    val target = pct / 100.0 * count
    var cum = 0.0
    var i = 0
    while (i < bins) {
      val next = cum + hist(i)
      if (next >= target) {
        val frac = if (hist(i) == 0) 0.0 else (target - cum) / hist(i)
        val step = (mx - mn) / bins
        return mn + step * (i + frac)
      }
      cum = next
      i += 1
    }
    mx
  }

  /** skeletonize (capability analog of
    * /root/reference/GIP/gip/GeoRaster.h:195-197): binary thinning of a
    * (>0) mask to a 1-px-wide skeleton. The reference uses CImg's
    * Hamilton-Jacobi flux skeleton (cimg/skeletonize.h) — smoke-tested
    * only (test_GeoRaster.py:173-179); this rebuild offers BOTH the
    * standard Zhang-Suen morphological thinning (this method — the
    * oracle-gated default: deterministic, SQL-replayable) and a
    * flux-ordered Hamilton-Jacobi skeleton ([[skeletonizeFlux]], the
    * same algorithm FAMILY as the reference, implemented from the
    * published method, not its code). Nodata (NaN) cells are treated
    * as background and preserved in the output. */
  def skeletonize(p: Array[Double], w: Int, h: Int): Array[Double] = {
    val a = new Array[Boolean](w * h)
    var i = 0
    while (i < p.length) { a(i) = !p(i).isNaN && p(i) > 0; i += 1 }
    def at(x: Int, y: Int): Boolean =
      x >= 0 && x < w && y >= 0 && y < h && a(y * w + x)
    var changed = true
    val kill = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (changed) {
      changed = false
      var pass = 0
      while (pass < 2) {
        kill.clear()
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            if (at(x, y)) {
              val n = Array(at(x, y - 1), at(x + 1, y - 1), at(x + 1, y),
                at(x + 1, y + 1), at(x, y + 1), at(x - 1, y + 1),
                at(x - 1, y), at(x - 1, y - 1))
              val b = n.count(identity)
              var trans = 0
              var j = 0
              while (j < 8) { if (!n(j) && n((j + 1) % 8)) trans += 1; j += 1 }
              val (c1, c2) =
                if (pass == 0) (!(n(0) && n(2) && n(4)), !(n(2) && n(4) && n(6)))
                else (!(n(0) && n(2) && n(6)), !(n(0) && n(4) && n(6)))
              if (b >= 2 && b <= 6 && trans == 1 && c1 && c2)
                kill += y * w + x
            }
            x += 1
          }
          y += 1
        }
        if (kill.nonEmpty) { changed = true; kill.foreach(a(_) = false) }
        pass += 1
      }
    }
    Array.tabulate(w * h)(i =>
      if (p(i).isNaN) Double.NaN else if (a(i)) 1.0 else 0.0)
  }

  /** Exact squared Euclidean distance transform to the nearest
    * BACKGROUND pixel (Felzenszwalb & Huttenlocher's two-pass
    * lower-envelope method, "Distance Transforms of Sampled
    * Functions", Theory of Computing 2012 — public algorithm).
    * Background (and everything outside the image) is at distance 0.
    * On the integer grid every output is an exact integer (a sum of
    * two squares) represented losslessly in the double — callers may
    * `.toLong` without rounding concerns. Public surface: the flux
    * skeleton builds on it, [[graft.ops.Warp.warpInto]] mergeMode 3
    * feathers with it, and the q_distance_transform gate checks it
    * against a brute-force boundary-background oracle. */
  def edt2(fg: Array[Boolean], w: Int, h: Int): Array[Double] = {
    val INF = 1e18
    val d = new Array[Double](w * h)
    var i = 0
    while (i < w * h) { d(i) = if (fg(i)) INF else 0.0; i += 1 }
    // pad: outside the image counts as background ⇒ seed border cells
    // with their distance to the virtual outside ring via the 1-D pass
    def dt1(f: Array[Double]): Array[Double] = {
      val n = f.length
      val dOut = new Array[Double](n)
      val v = new Array[Int](n); val z = new Array[Double](n + 1)
      var k = 0
      v(0) = 0; z(0) = -INF; z(1) = INF
      var q = 1
      while (q < n) {
        var s = ((f(q) + q * q) - (f(v(k)) + v(k) * v(k))) / (2.0 * q - 2.0 * v(k))
        while (s <= z(k)) {
          k -= 1
          s = ((f(q) + q * q) - (f(v(k)) + v(k) * v(k))) / (2.0 * q - 2.0 * v(k))
        }
        k += 1; v(k) = q; z(k) = s; z(k + 1) = INF
        q += 1
      }
      k = 0
      q = 0
      while (q < n) {
        while (z(k + 1) < q) k += 1
        dOut(q) = (q - v(k)) * (q - v(k)) + f(v(k))
        q += 1
      }
      dOut
    }
    // outside-is-background: extend each scanline by one virtual zero
    // cell at both ends (index -1 and n) — equivalently clamp f with a
    // 0 at the borders by running the 1-D pass on an array padded with
    // zeros and cropping
    def dt1Padded(f: Array[Double]): Array[Double] = {
      val padded = new Array[Double](f.length + 2)
      padded(0) = 0.0; padded(padded.length - 1) = 0.0
      System.arraycopy(f, 0, padded, 1, f.length)
      val r = dt1(padded)
      java.util.Arrays.copyOfRange(r, 1, 1 + f.length)
    }
    // pass 1: rows
    var y = 0
    while (y < h) {
      val row = new Array[Double](w)
      var x = 0
      while (x < w) { row(x) = d(y * w + x); x += 1 }
      val r = dt1Padded(row)
      x = 0
      while (x < w) { d(y * w + x) = r(x); x += 1 }
      y += 1
    }
    // pass 2: columns
    var x = 0
    while (x < w) {
      val colA = new Array[Double](h)
      var yy = 0
      while (yy < h) { colA(yy) = d(yy * w + x); yy += 1 }
      val r = dt1Padded(colA)
      yy = 0
      while (yy < h) { d(yy * w + x) = r(yy); yy += 1 }
      x += 1
    }
    d
  }

  /** Connected-component labeling (8-connectivity) — blob extraction,
    * the raster step under sieve/polygonize-style vector conversion.
    * Canonical label of a component = the MINIMUM linear pixel index
    * it contains (deterministic under any scan order, and exactly
    * restatable in SQL as a min-label flood). Background = -1.
    * Classic two-pass union-find with path compression. */
  def labelComponents(fg: Array[Boolean], w: Int, h: Int): Array[Int] = {
    val parent = new Array[Int](w * h)
    var i = 0
    while (i < w * h) { parent(i) = i; i += 1 }
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * w + x
        if (fg(p)) {
          // union with already-visited neighbors: W, NW, N, NE
          if (x > 0 && fg(p - 1)) union(p, p - 1)
          if (y > 0) {
            if (x > 0 && fg(p - w - 1)) union(p, p - w - 1)
            if (fg(p - w)) union(p, p - w)
            if (x < w - 1 && fg(p - w + 1)) union(p, p - w + 1)
          }
        }
        x += 1
      }
      y += 1
    }
    Array.tabulate(w * h)(i => if (fg(i)) find(i) else -1)
  }

  /** HAMILTON-JACOBI (flux-ordered) skeleton — the same algorithm
    * family as the reference's CImg plugin, implemented from the
    * published method (Siddiqi, Bouix, Tannenbaum, Zucker,
    * "Hamilton-Jacobi Skeletons", IJCV 2002 — public literature; the
    * reference's CeCILL-licensed plugin code was NOT used):
    *
    *   1. D = Euclidean distance transform to the background ([[edt2]]);
    *   2. ∇D by central differences; average OUTWARD FLUX of ∇D
    *      through each pixel's 8-neighborhood — strongly negative
    *      flux marks medial (shock) points;
    *   3. homotopy-preserving ordered thinning: process foreground
    *      pixels in increasing-D order (priority queue, ties by
    *      index → fully deterministic); remove a pixel iff it is a
    *      SIMPLE point (removal preserves 8-fg/4-bg topology) and NOT
    *      an endpoint with flux below `fluxThresh` — endpoints with
    *      strong inward flux survive as curve-skeleton tips.
    *
    * Returns 1.0/0.0/NaN like [[skeletonize]]. Verified by invariant
    * specs (subset, component preservation, determinism, medial
    * location); the oracle-gated engine default remains Zhang-Suen. */
  def skeletonizeFlux(p: Array[Double], w: Int, h: Int,
                      fluxThresh: Double = -0.4): Array[Double] = {
    val fg = new Array[Boolean](w * h)
    var i = 0
    while (i < p.length) { fg(i) = !p(i).isNaN && p(i) > 0; i += 1 }
    val d2 = edt2(fg, w, h)
    val dist = d2.map(math.sqrt)
    def at(x: Int, y: Int): Boolean =
      x >= 0 && x < w && y >= 0 && y < h && fg(y * w + x)
    def dAt(x: Int, y: Int): Double =
      if (x < 0 || x >= w || y < 0 || y >= h) 0.0 else dist(y * w + x)
    // central-difference gradient of D
    val gx = new Array[Double](w * h); val gy = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        gx(y * w + x) = (dAt(x + 1, y) - dAt(x - 1, y)) / 2.0
        gy(y * w + x) = (dAt(x, y + 1) - dAt(x, y - 1)) / 2.0
        x += 1
      }
      y += 1
    }
    // average outward flux over the 8-neighborhood
    val flux = new Array[Double](w * h)
    val offs = Array((0, -1), (1, -1), (1, 0), (1, 1),
                     (0, 1), (-1, 1), (-1, 0), (-1, -1))
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (fg(y * w + x)) {
          var f = 0.0; var n = 0
          offs.foreach { case (dx, dy) =>
            val qx = x + dx; val qy = y + dy
            if (qx >= 0 && qx < w && qy >= 0 && qy < h) {
              val len = math.sqrt((dx * dx + dy * dy).toDouble)
              f += (gx(qy * w + qx) * dx + gy(qy * w + qx) * dy) / len
              n += 1
            }
          }
          flux(y * w + x) = if (n == 0) 0.0 else f / n
        }
        x += 1
      }
      y += 1
    }
    // SIMPLE-POINT test, (8-fg, 4-bg) topology: removable iff the fg
    // ring cells form exactly ONE 8-connected component and the bg
    // ring cells form exactly ONE 4-connected component that touches
    // an orthogonal neighbor (Bertrand/Couprie characterization of
    // 2-D simple points — public literature). Components are counted
    // with a tiny union-find over the 8 ring positions with the exact
    // Chebyshev/Manhattan adjacency, no heuristics:
    //   fg 8-adjacency: consecutive ring cells + orthogonal pairs
    //     around a shared corner (N-E, E-S, S-W, W-N);
    //   bg 4-adjacency: consecutive ring cells only.
    val fg8Pairs: Array[(Int, Int)] =
      Array.tabulate(8)(j => (j, (j + 1) % 8)) ++
        Array((0, 2), (2, 4), (4, 6), (6, 0))
    def isSimple(x: Int, yy: Int): Boolean = {
      val nb = Array.tabulate(8) { j =>
        at(x + offs(j)._1, yy + offs(j)._2)
      }
      val parent = Array.tabulate(8)(identity)
      def find(a: Int): Int =
        if (parent(a) == a) a else { parent(a) = find(parent(a)); parent(a) }
      def union(a: Int, b: Int): Unit = { parent(find(a)) = find(b) }
      // fg 8-components
      fg8Pairs.foreach { case (a, b) => if (nb(a) && nb(b)) union(a, b) }
      val fgComp = (0 until 8).filter(nb).map(find).distinct.size
      // bg 4-components (reset union-find)
      (0 until 8).foreach(j => parent(j) = j)
      (0 until 8).foreach { j =>
        val k = (j + 1) % 8
        if (!nb(j) && !nb(k)) union(j, k)
      }
      // only components containing an ORTHOGONAL bg neighbor count
      // (a bg corner alone is not 4-adjacent to the center)
      val bgComp = Seq(0, 2, 4, 6).filter(j => !nb(j)).map(find).distinct.size
      fgComp == 1 && bgComp == 1
    }
    def isEnd(x: Int, yy: Int): Boolean = {
      var n = 0
      offs.foreach { case (dx, dy) => if (at(x + dx, yy + dy)) n += 1 }
      n <= 1
    }
    // ordered thinning: min-dist first, deterministic tie-break
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else Integer.compare(a._2, b._2)
      })
    val queued = new Array[Boolean](w * h)
    def push(x: Int, yy: Int): Unit = {
      val idx = yy * w + x
      if (fg(idx) && !queued(idx)) { queued(idx) = true; pq.add((dist(idx), idx)) }
    }
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // seed: boundary fg pixels (some 4-neighbor is background)
        if (fg(y * w + x) &&
            (!at(x, y - 1) || !at(x + 1, y) || !at(x, y + 1) || !at(x - 1, y)))
          push(x, y)
        x += 1
      }
      y += 1
    }
    while (!pq.isEmpty) {
      val (_, idx) = pq.poll()
      queued(idx) = false
      val x = idx % w; val yy = idx / w
      if (fg(idx) && isSimple(x, yy) &&
          !(isEnd(x, yy) && flux(idx) < fluxThresh)) {
        fg(idx) = false
        offs.foreach { case (dx, dy) =>
          val qx = x + dx; val qy = yy + dy
          if (at(qx, qy)) push(qx, qy)
        }
      }
    }
    Array.tabulate(w * h)(i =>
      if (p(i).isNaN) Double.NaN else if (fg(i)) 1.0 else 0.0)
  }

  // ---- §2.4 neighborhood ops ----
  /** Nodata-aware 2-D convolution, reference-exact semantics
    * (convolve_nodata, /root/reference/GIP/cimg/convolve.h:43-76):
    *   out = Σ(v·kv over VALID neighbors) / Σ(kv over valid neighbors);
    *   the border ring (within max(kw,kh)/2 of the edge) is UNTOUCHED;
    *   all-invalid neighborhoods emit nodata; a nodata center with
    *   valid neighbors gets FILLED (the read-time restore re-masks it
    *   when used inside a chain). Kernel row-major kw×kh, odd dims. */
  def convolveNodata(p: Array[Double], w: Int, h: Int,
                     kernel: Array[Double], kw: Int, kh: Int): Array[Double] = {
    val out = p.clone()
    val rx = kw / 2; val ry = kh / 2
    val border = math.max(rx, ry)
    var y = border
    while (y < h - border) {
      var x = border
      while (x < w - border) {
        var acc = 0.0; var wsum = 0.0; var valid = false
        var ky = -ry
        while (ky <= ry) {
          var kx = -rx
          while (kx <= rx) {
            val v = p((y + ky) * w + (x + kx))
            if (!v.isNaN) {
              val kv = kernel((ky + ry) * kw + (kx + rx))
              acc += v * kv; wsum += kv; valid = true
            }
            kx += 1
          }
          ky += 1
        }
        out(y * w + x) = if (valid) acc / wsum else Double.NaN
        x += 1
      }
      y += 1
    }
    out
  }

  /** Plain convolution (nodata treated as ordinary values, per the
    * reference's default path /root/reference/GIP/gip/GeoRaster.h:225-230);
    * `replicate` selects Neumann (edge-replicate) vs zero boundary. */
  def convolve(p: Array[Double], w: Int, h: Int,
               kernel: Array[Double], kw: Int, kh: Int,
               replicate: Boolean = true): Array[Double] = {
    val out = new Array[Double](p.length)
    val rx = kw / 2; val ry = kh / 2
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var acc = 0.0
        var ky = -ry
        while (ky <= ry) {
          var kx = -rx
          while (kx <= rx) {
            val kv = kernel((ky + ry) * kw + (kx + rx))
            val xx0 = x + kx; val yy0 = y + ky
            if (replicate) {
              val xx = math.max(0, math.min(w - 1, xx0))
              val yy = math.max(0, math.min(h - 1, yy0))
              acc += p(yy * w + xx) * kv
            } else if (xx0 >= 0 && xx0 < w && yy0 >= 0 && yy0 < h) {
              acc += p(yy0 * w + xx0) * kv
            }
            kx += 1
          }
          ky += 1
        }
        out(y * w + x) = acc
        x += 1
      }
      y += 1
    }
    out
  }

  /** Laplacian, CImg semantics: 4-neighbor finite difference with
    * replicate boundary (/root/reference/GIP/gip/GeoRaster.h:231-233). */
  def laplacian(p: Array[Double], w: Int, h: Int): Array[Double] =
    convolve(p, w, h, Array(0, 1, 0, 1, -4, 1, 0, 1, 0), 3, 3, replicate = true)

  /** Morphological max/min filter over a wk×hk window
    * (/root/reference/GIP/gip/GeoRaster.h:188-194). Nodata neighbors
    * ignored; nodata centers stay nodata. */
  private def morph(p: Array[Double], w: Int, h: Int, wk: Int, hk: Int,
                    better: (Double, Double) => Boolean): Array[Double] = {
    val out = new Array[Double](p.length)
    val rx = wk / 2; val ry = hk / 2
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (p(y * w + x).isNaN) out(y * w + x) = Double.NaN
        else {
          var best = Double.NaN
          var ky = -ry
          while (ky <= ry) {
            var kx = -rx
            while (kx <= rx) {
              val xx = x + kx; val yy = y + ky
              if (xx >= 0 && xx < w && yy >= 0 && yy < h) {
                val v = p(yy * w + xx)
                if (!v.isNaN && (best.isNaN || better(v, best))) best = v
              }
              kx += 1
            }
            ky += 1
          }
          out(y * w + x) = best
        }
        x += 1
      }
      y += 1
    }
    out
  }

  def dilate(p: Array[Double], w: Int, h: Int, wk: Int, hk: Int): Array[Double] =
    morph(p, w, h, wk, hk, _ > _)
  def erode(p: Array[Double], w: Int, h: Int, wk: Int, hk: Int): Array[Double] =
    morph(p, w, h, wk, hk, _ < _)

  /** Per-pixel mean/stddev/count ACROSS bands; stddev nodata when n<2 —
    * the reference's spectral_statistics
    * (/root/reference/GIP/GeoImage.cpp:236-280). */
  def spectralStats(planes: Array[Array[Double]]): (Array[Double], Array[Double], Array[Double]) = {
    val n = planes(0).length
    val mean = new Array[Double](n); val sd = new Array[Double](n)
    val cnt = new Array[Double](n)
    var i = 0
    while (i < n) {
      var c = 0; var s = 0.0; var s2 = 0.0
      var b = 0
      while (b < planes.length) {
        val v = planes(b)(i)
        if (!v.isNaN) { c += 1; s += v; s2 += v * v }
        b += 1
      }
      cnt(i) = c.toDouble
      mean(i) = if (c == 0) Double.NaN else s / c
      sd(i) = if (c < 2) Double.NaN
              else math.sqrt(math.max(0.0, s2 / c - (s / c) * (s / c)))
      i += 1
    }
    (mean, sd, cnt)
  }
}
