package graft.expr

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.index.CellGrid

/** Static JVM kernels behind the codegen expressions in [[VecExprs]] —
  * called directly from generated Java (one static call per row, no
  * encoder/boxing round-trip). Each kernel is THE single source of
  * truth for its algorithm: the equality-spec'd udf twins in
  * `graft.text.TextOps` / `graft.vec.VectorOps` delegate here, so
  * bit-identity between the udf, the expression and the SQL-mirrored
  * spec is by construction, then re-asserted in LshSpec.
  */
object Kernels {

  private val hexD = "0123456789abcdef".toCharArray

  /** MinHash signature hex strings (n salted md5 minima over 3-token
    * shingles; <3 tokens → the whole text is the one shingle).
    * Split keeps trailing empty tokens (Spark split semantics). */
  def minhashHexes(text: String, n: Int): Array[String] = {
    val ts = text.split(" ", -1)
    val shingles: Array[String] =
      if (ts.length >= 3)
        Array.tabulate(ts.length - 2)(i => ts(i) + " " + ts(i + 1) + " " + ts(i + 2))
      else Array(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n) { j =>
      val pfx = j.toString
      var min: String = null
      shingles.foreach { s =>
        md.reset()
        val d = md.digest((pfx + s).getBytes("UTF-8"))
        val sb = new java.lang.StringBuilder(32)
        var i = 0
        while (i < 16) {
          sb.append(hexD((d(i) >> 4) & 0xF)); sb.append(hexD(d(i) & 0xF))
          i += 1
        }
        val hex = sb.toString
        if (min == null || hex.compareTo(min) < 0) min = hex
      }
      min
    }
  }

  /** Codegen entry: UTF8String in, ArrayData of UTF8String out. */
  def minhashSig(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(
      minhashHexes(text.toString, n)
        .map(s => UTF8String.fromString(s): Any))

  /** SRP-LSH bucket ids for all tables; reads floats straight out of
    * the unsafe ArrayData (same left-to-right fold order as the
    * `aggregate(zip_with(...))` expression — bit-identical buckets).
    * Returns NULL (the caller raises isNull) for a too-short array or
    * any null element: getFloat past numElements on UnsafeArrayData
    * reads adjacent memory, and a null slot reads as 0.0 — both would
    * be silently wrong buckets instead of a null row. */
  def lshBuckets(e: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val tables = planes.length
    val dimNeed = planes(0)(0).length
    if (e.numElements() < dimNeed) return null
    var g = 0
    while (g < dimNeed) { if (e.isNullAt(g)) return null; g += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val pt = planes(t)
      val nb = pt.length
      var bucket = 0L
      var j = 0
      while (j < nb) {
        val w = pt(j)
        var acc = 0.0
        var i = 0
        val dim = w.length
        while (i < dim) { acc = acc + e.getFloat(i).toDouble * w(i); i += 1 }
        if (acc >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  // ---- product quantization (PQ) ----------------------------------
  //
  // Embedding components are quantized to exact integers
  // qi = floor(double(x) * 2^20) — the same scale the kmeans-exact
  // oracle gates use — so every PQ distance below is exact Long
  // arithmetic that any SQL engine re-derives bit-for-bit (no float
  // sums to mismatch). The flat codebook layout is
  // cb[(sub*ks + c)*dsub + i] = quantized component i of sub-centroid
  // c in subspace sub; dsub = cb.length / (m*ks).

  /** The kmeans-exact quantizer: floor(double(x) * 2^20). */
  def pqQuant(x: Float): Long =
    math.floor(x.toDouble * 1048576.0).toLong

  /** Quantize the leading m*dsub floats of an embedding; null on a
    * too-short array or any null element (same contract as
    * [[lshBuckets]] — unsafe reads past numElements / of null slots
    * would be silently wrong codes). */
  private def quantHead(e: ArrayData, dim: Int): Array[Long] = {
    if (e.numElements() < dim) return null
    var g = 0
    while (g < dim) { if (e.isNullAt(g)) return null; g += 1 }
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) { q(i) = pqQuant(e.getFloat(i)); i += 1 }
    q
  }

  /** PQ encode: per-subspace argmin of exact integer squared distance
    * over the ks sub-centroids (ties → lowest centroid index).
    * Returns the m codes as array<int>, or NULL per [[quantHead]]. */
  def pqCodes(e: ArrayData, cb: Array[Long], m: Int, ks: Int): ArrayData = {
    val dsub = cb.length / (m * ks)
    val q = quantHead(e, m * dsub)
    if (q == null) return null
    val codes = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < ks) {
        val off = (sub * ks + c) * dsub
        var dd = 0L
        var i = 0
        while (i < dsub) {
          val t = q(sub * dsub + i) - cb(off + i)
          dd += t * t
          i += 1
        }
        if (dd < bestD) { bestD = dd; best = c }
        c += 1
      }
      codes(sub) = best
      sub += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC distance table of a query vector: dtab[sub*ks + c] = exact
    * integer squared distance from the query's subvector `sub` to
    * sub-centroid c. Computed ONCE per query; scoring a candidate is
    * then m table lookups ([[pqAdc]]). NULL per [[quantHead]]. */
  def pqDtab(e: ArrayData, cb: Array[Long], m: Int, ks: Int): ArrayData = {
    val dsub = cb.length / (m * ks)
    val q = quantHead(e, m * dsub)
    if (q == null) return null
    val dtab = new Array[Long](m * ks)
    var sub = 0
    while (sub < m) {
      var c = 0
      while (c < ks) {
        val off = (sub * ks + c) * dsub
        var dd = 0L
        var i = 0
        while (i < dsub) {
          val t = q(sub * dsub + i) - cb(off + i)
          dd += t * t
          i += 1
        }
        dtab(sub * ks + c) = dd
        c += 1
      }
      sub += 1
    }
    new GenericArrayData(dtab)
  }

  /** ADC score: Σ_sub dtab[sub*ks + codes[sub]] — the PQ hot loop, m
    * array lookups and adds per candidate. NULL on null elements, a
    * dtab/codes size mismatch, or an out-of-range code. */
  def pqAdc(dtab: ArrayData, codes: ArrayData, ks: Int): java.lang.Long = {
    val m = codes.numElements()
    if (dtab.numElements() != m * ks) return null
    var s = 0L
    var sub = 0
    while (sub < m) {
      if (codes.isNullAt(sub)) return null
      val c = codes.getInt(sub)
      if (c < 0 || c >= ks) return null
      if (dtab.isNullAt(sub * ks + c)) return null
      s += dtab.getLong(sub * ks + c)
      sub += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** IVF cell assignment: positional index of the max-cosine centroid
    * (flat float centroids, kc rows of dim = flat.length/kc). The
    * cosine fold is [[cosineBoxed]]'s exact op order, and the argmax
    * replicates Spark's `ROW_NUMBER OVER (ORDER BY csim DESC, cid)`
    * semantics bit-for-bit: comparison via Double.compare (NaN sorts
    * LARGEST, like Spark's descending order), strict `>` keeps the
    * earliest (lowest) index on bit-equal ties. Returns null for an
    * embedding with a null element or a length != dim (the windowed
    * variant would keep such a row with a null csim; no gate data has
    * either). This replaces the corpus-side crossJoin + window — cell
    * assignment becomes one codegen call per row, no shuffle. */
  def ivfAssign(e: ArrayData, flat: Array[Float], kc: Int): Integer = {
    val dim = flat.length / kc
    if (e.numElements() != dim) return null
    var g = 0
    while (g < dim) { if (e.isNullAt(g)) return null; g += 1 }
    var best = -1
    var bestSim = 0.0
    var c = 0
    while (c < kc) {
      val off = c * dim
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        val x = e.getFloat(i).toDouble; val y = flat(off + i).toDouble
        d += x * y; na += x * x; nb += y * y
        i += 1
      }
      val sim = d / (math.sqrt(na) * math.sqrt(nb))
      if (best < 0 || java.lang.Double.compare(sim, bestSim) > 0) {
        best = c; bestSim = sim
      }
      c += 1
    }
    Integer.valueOf(best)
  }

  /** Cosine similarity, double accumulation in index order — identical
    * IEEE result to the `aggregate(zip_with(...))` expression and the
    * udf twin. Returns NULL (boxed) on length mismatch or any null
    * element — the zip_with expression's semantics (a null slot nulls
    * the whole fold; reading it as 0.0 would be a silently wrong
    * similarity). */
  def cosineBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(d / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Hilbert curve xy2d (order-k key of a cell in the 2^k × 2^k grid),
    * the standard iterative quadrant rotate-flip walk: per round
    * s = 2^i, quadrant = (3·rx)^ry, then the ry=0 flip (n−1−·) + swap.
    * An O(order) loop here instead of a Column construction because
    * the column form must RE-SUBSTITUTE x and y each round — a ~3^k
    * expression-tree blowup that shipped a 204 MB task binary at
    * order 8. Called from HilbertKey's codegen. */
  def hilbertXY2D(x0: Long, y0: Long, order: Int): Long = {
    val nm1 = (1L << order) - 1L
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0L) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = nm1 - x; y = nm1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** The rect join's refine over one polygon bucket: writes to `hits`
    * (length ≥ the bucket's) the indices j, ascending, whose box
    * [bx0(j), bx1(j)) × [by0(j), by1(j)) overlaps the open probe box
    * and whose intersection's min corner lies in cell (cix, ciy) at
    * shift `sh`; returns how many. The same predicate as
    * `SpatialJoin.overlapsOnce`, one static loop per probe row instead
    * of one joined row per candidate. `bx0` must be ascending: the loop
    * stops at the first box that starts at or right of x1. Called from
    * RectProbe. */
  def rectProbe(x0: Long, y0: Long, x1: Long, y1: Long, cix: Long, ciy: Long, sh: Int,
                bx0: ArrayData, by0: ArrayData, bx1: ArrayData, by1: ArrayData,
                hits: Array[Int]): Int = {
    val n = bx0.numElements()
    var m = 0
    var j = 0
    while (j < n && bx0.getLong(j) < x1) {
      val px0 = bx0.getLong(j); val py0 = by0.getLong(j)
      if (x0 < bx1.getLong(j) && y0 < by1.getLong(j) && py0 < y1 &&
          ((math.max(x0, px0) + CellGrid.OffX) >> sh) == cix &&
          ((math.max(y0, py0) + CellGrid.OffY) >> sh) == ciy) {
        hits(m) = j
        m += 1
      }
      j += 1
    }
    m
  }
}
