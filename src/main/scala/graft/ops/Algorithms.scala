package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Codec, Pixels}

/** The reference's multi-band algorithm suite
  * (/root/reference/GIP/GeoAlgorithms.cpp) re-expressed for the
  * image-per-row model: per-image passes are row-local kernels (no
  * shuffle); the only distributed iteration is the embeddings k-means,
  * which follows the classic Spark loop (broadcast centers → assign →
  * groupBy-mean) — the pattern the reference's chunk-loop k-means
  * (GeoAlgorithms.cpp:556-638) maps to at cluster scale.
  */
object Algorithms {

  // ---- whiteness (GeoImage.h:409-423): (|r-μ|+|g-μ|+|b-μ|)/μ ----
  def whitenessPlane(r: Array[Double], g: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](r.length)
    var i = 0
    while (i < r.length) {
      out(i) =
        if (r(i).isNaN || g(i).isNaN || b(i).isNaN) Double.NaN
        else {
          val mu = (r(i) + g(i) + b(i)) / 3
          (math.abs(r(i) - mu) + math.abs(g(i) - mu) + math.abs(b(i) - mu)) / mu
        }
      i += 1
    }
    out
  }

  val whitenessAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
    val c = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      3, "whiteness", fmt)
    Pixels.validFloorSum(whitenessPlane(c(2), c(1), c(0)), 1e6) // red, green, blue
  })

  // ---- linear_transform (GeoAlgorithms.cpp:642-670): out_j = Σ c_ij·band_i ----
  /** Fixed demo coefficient rows (evaluated strictly left-to-right so
    * the SQL oracle reproduces the exact double). */
  val LtCoefs: Seq[Seq[Double]] = Seq(
    Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6),
    Seq(0.6, -0.5, 0.4, -0.3, 0.2, -0.1))

  val linearTransformAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
    val c = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      6, "linear_transform", fmt)
    LtCoefs.zipWithIndex.map { case (cs, ob) =>
      var n = 0L; var fs = 0L; var i = 0
      while (i < c(0).length) {
        var nan = false; var acc = 0.0; var bIdx = 0
        while (bIdx < 6) {
          val v = c(bIdx)(i)
          if (v.isNaN) nan = true else acc = acc + cs(bIdx) * v
          bIdx += 1
        }
        if (!nan) { n += 1; fs += math.floor(acc * 1e6).toLong }
        i += 1
      }
      (ob.toLong, n, fs)
    }
  })

  // ---- extract_classes (GeoImage.h:323-350): raster → (class, …) rows ----
  /** Class map = NDVI quartile clamp(floor(ndvi·4), 0, 3); per class,
    * pixel count and red-band sum — the raster→table extraction. */
  val extractClassesAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
    val c = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      4, "extract_classes", fmt)
    val out = scala.collection.mutable.Map[Long, (Long, Long)]()
    var i = 0
    while (i < c(0).length) {
      val r = c(2)(i); val n = c(3)(i)
      if (!r.isNaN && !n.isNaN) {
        val ndvi = (n - r) / (n + r)
        val cls = math.max(0L, math.min(3L, math.floor(ndvi * 4).toLong))
        val (pc, rs) = out.getOrElse(cls, (0L, 0L))
        out(cls) = (pc + 1, rs + r.toLong)
      }
      i += 1
    }
    out.toSeq.map { case (cls, (pc, rs)) => (cls, pc, rs) }.sortBy(_._1)
  })

  // ---- read_random_pixels (GeoImage.h:297-319), made deterministic ----
  /** Seeded LCG sample of `n` grid positions; invalid (nodata-stripe)
    * draws are skipped, mirroring rejection semantics without a retry
    * loop so the SQL oracle can restate it. */
  val randomPixelsAgg = udf((k: Long, bytes: Array[Byte], w: Int, h: Int,
                             fmt: String, nb: Int, n: Int) => {
    val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
    var nv = 0L; var vs = 0L; var i = 0
    while (i < n) {
      val idx = java.lang.Math.floorMod(k * 1103515245L + i * 2654435761L,
        (w.toLong * h))
      val v = c(0)(idx.toInt)
      if (!v.isNaN) { nv += 1; vs += v.toLong }
      i += 1
    }
    (nv, vs)
  })

  // ---- spectral covariance (GeoImage.cpp:190-232) + rxd (GeoAlgorithms.cpp:730-758) ----
  /** bands×bands covariance over valid pixels: E[xxᵀ] − μμᵀ. */
  def covariance(cube: Array[Array[Double]]): Array[Array[Double]] = {
    val nb = cube.length
    val s = new Array[Double](nb)
    val ss = Array.ofDim[Double](nb, nb)
    var n = 0L
    var i = 0
    while (i < cube(0).length) {
      var valid = true
      var b = 0
      while (b < nb) { if (cube(b)(i).isNaN) valid = false; b += 1 }
      if (valid) {
        n += 1
        b = 0
        while (b < nb) {
          s(b) += cube(b)(i)
          var b2 = 0
          while (b2 < nb) { ss(b)(b2) += cube(b)(i) * cube(b2)(i); b2 += 1 }
          b += 1
        }
      }
      i += 1
    }
    Array.tabulate(nb, nb)((a, c) => ss(a)(c) / n - (s(a) / n) * (s(c) / n))
  }

  /** Gauss-Jordan inverse with ridge regularization (synthetic ramps
    * are rank-deficient; the reference would divide by zero here —
    * documented divergence). */
  def invertRidge(m: Array[Array[Double]], ridge: Double = 1e-6): Array[Array[Double]] = {
    val n = m.length
    val a = Array.tabulate(n, 2 * n) { (i, j) =>
      if (j < n) m(i)(j) + (if (i == j) ridge else 0.0)
      else if (j - n == i) 1.0 else 0.0
    }
    var col = 0
    while (col < n) {
      var piv = col
      var r = col
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val d = a(col)(col)
      var j = 0
      while (j < 2 * n) { a(col)(j) /= d; j += 1 }
      r = 0
      while (r < n) {
        if (r != col && a(r)(col) != 0.0) {
          val f = a(r)(col)
          j = 0
          while (j < 2 * n) { a(r)(j) -= f * a(col)(j); j += 1 }
        }
        r += 1
      }
      col += 1
    }
    Array.tabulate(n, n)((i, j) => a(i)(j + n))
  }

  /** RX anomaly: Mahalanobis distance (x−μ)ᵀK⁻¹(x−μ) per pixel. */
  def rxdPlane(cube: Array[Array[Double]]): Array[Double] = {
    val nb = cube.length
    val npx = cube(0).length
    val mu = new Array[Double](nb)
    var n = 0L
    var i = 0
    while (i < npx) {
      var valid = true
      var b = 0
      while (b < nb) { if (cube(b)(i).isNaN) valid = false; b += 1 }
      if (valid) { n += 1; var b2 = 0; while (b2 < nb) { mu(b2) += cube(b2)(i); b2 += 1 } }
      i += 1
    }
    var b = 0
    while (b < nb) { mu(b) /= n; b += 1 }
    val kinv = invertRidge(covariance(cube))
    val out = new Array[Double](npx)
    val d = new Array[Double](nb)
    i = 0
    while (i < npx) {
      var valid = true
      b = 0
      while (b < nb) {
        val v = cube(b)(i)
        if (v.isNaN) valid = false else d(b) = v - mu(b)
        b += 1
      }
      out(i) =
        if (!valid) Double.NaN
        else {
          var acc = 0.0
          var r = 0
          while (r < nb) {
            var c2 = 0
            while (c2 < nb) { acc += d(r) * kinv(r)(c2) * d(c2); c2 += 1 }
            r += 1
          }
          acc
        }
      i += 1
    }
    out
  }

  val rxdAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
    val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
    val p = rxdPlane(cube)
    var n = 0L; var s = 0.0; var mx = Double.NegativeInfinity; var i = 0
    while (i < p.length) {
      if (!p(i).isNaN) { n += 1; s += p(i); if (p(i) > mx) mx = p(i) }
      i += 1
    }
    (n, s, if (n == 0) 0.0 else mx)
  })

  /** EXACT-INTEGER spectral scatter matrix — the oracle-checkable form
    * of [[covariance]] (reference spectral_covariance,
    * /root/reference/GIP/GeoImage.cpp:190-232): per band pair (a ≤ b),
    * M_ab = n·Σv_a v_b − Σv_a·Σv_b over valid pixels = n²·Cov_ab, all
    * integer for exact-codec payloads, so the closed-form ramp sums
    * replay it digit-exactly in SQL (the float covariance divides by n
    * — partition-order-safe here since sums are per-image sequential,
    * but the integer form removes the engine-dependence question
    * entirely). Emits one (ba, bb, m) row per pair.
    *
    * EXACTNESS BOUNDS (Long accumulation): the Σv_a·v_b accumulator is
    * exact iff n·max(v)² < 2^63, i.e. |v| ≤ 65535 (u8/i16/u16) up to
    * ~2.1e9 pixels per image, or |v| ≤ 2^20 up to ~8.4e6 pixels —
    * megapixel planes of every narrow codec are safe; f32 payloads are
    * safe when they hold integers of that magnitude (the synth ramps
    * do). Wide codecs are NOT: one u32-max product already exceeds
    * Int64 (would silently wrap, like rxdExactAgg's BigInteger path
    * avoids), so u32/i32/f64 are rejected up front rather than
    * returning wrong integers under an "exact" contract. */
  val scatterAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                        nb: Int) => {
    require(fmt != "raw-u32le" && fmt != "raw-i32le" && fmt != "raw-f64le",
      s"scatterAgg: Long accumulation is not exact for $fmt " +
        "(a single per-pixel product can exceed Int64); use a narrow " +
        "integer codec or a BigInteger variant (rxdExactAgg pattern)")
    val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
    val nbs = c.length
    val s = new Array[Long](nbs)
    val q = Array.ofDim[Long](nbs, nbs)
    var n = 0L
    var i = 0
    while (i < c(0).length) {
      if (!c(0)(i).isNaN) { // stripe nodata hits every band together
        n += 1
        var a = 0
        while (a < nbs) {
          val va = c(a)(i).toLong
          s(a) += va
          var b = a
          while (b < nbs) { q(a)(b) += va * c(b)(i).toLong; b += 1 }
          a += 1
        }
      }
      i += 1
    }
    (for (a <- 0 until nbs; b <- a until nbs)
      yield (a.toLong, b.toLong, n * q(a)(b) - s(a) * s(b))).toSeq
  })

  /** BIT-REPRODUCIBLE RX anomaly — the exact-integer twin of [[rxdAgg]]
    * (same contract pattern as the kmeans-exact gates): 16 seeded
    * sample pixels (the read_random_pixels index formula), bands 0-2,
    * Mahalanobis via ADJUGATE + DETERMINANT of the integer scatter
    * matrix so neither engine ever inverts a float matrix
    * (reference rxd: /root/reference/GIP/GeoAlgorithms.cpp:730-758).
    *
    * With μ = S/n and Cov = (n·Q − S·Sᵀ)/n², let y = n·x − S and
    * M = n·Q − S·Sᵀ + I (integer ridge +1 on the diagonal — the synth
    * ramps are planar, so the un-ridged scatter is singular; M is PSD,
    * so det(M+I) ≥ 1). Then (x−μ)ᵀ·(M/n²)⁻¹·(x−μ) = yᵀ·M⁻¹·y =
    * yᵀ·adj(M)·y / det(M): an exact integer ratio. Output per image:
    * (n_valid, det(M), Σ_samples yᵀ·adj(M)·y) with the two big
    * integers as DECIMAL STRINGS (≤ ~1e30 here — inside DuckDB's
    * HUGEINT, outside int64), replayed digit-exactly by the oracle. */
  val rxdExactAgg = udf((k: Long, bytes: Array[Byte], w: Int, h: Int,
                         fmt: String, nb: Int) => {
    val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
    val NS = 16
    val idxs = Array.tabulate(NS)(i => java.lang.Math.floorMod(
      k * 1103515245L + i * 2654435761L, w.toLong * h).toInt)
    // valid sample = band 0 valid (the nodata stripe hits every band)
    val vs = idxs.flatMap { idx =>
      val v0 = cube(0)(idx)
      if (v0.isNaN) None
      else Some(Array(v0.toLong, cube(1)(idx).toLong, cube(2)(idx).toLong))
    }
    val n = vs.length.toLong
    if (n == 0) (0L, "0", "0")
    else {
      val s = new Array[Long](3)
      val q = Array.ofDim[Long](3, 3)
      vs.foreach { v =>
        var a = 0
        while (a < 3) {
          s(a) += v(a)
          var b = 0
          while (b < 3) { q(a)(b) += v(a) * v(b); b += 1 }
          a += 1
        }
      }
      import java.math.BigInteger
      def bi(l: Long) = BigInteger.valueOf(l)
      val m = Array.tabulate(3, 3)((a, b) =>
        bi(n * q(a)(b) - s(a) * s(b) + (if (a == b) 1L else 0L)))
      def c2(a: BigInteger, b: BigInteger, c: BigInteger, d: BigInteger) =
        a.multiply(d).subtract(b.multiply(c))
      val det = m(0)(0).multiply(c2(m(1)(1), m(1)(2), m(2)(1), m(2)(2)))
        .subtract(m(0)(1).multiply(c2(m(1)(0), m(1)(2), m(2)(0), m(2)(2))))
        .add(m(0)(2).multiply(c2(m(1)(0), m(1)(1), m(2)(0), m(2)(1))))
      // adjugate of the symmetric M (adj is symmetric too)
      val a00 = c2(m(1)(1), m(1)(2), m(2)(1), m(2)(2))
      val a01 = c2(m(0)(2), m(0)(1), m(2)(2), m(2)(1))
      val a02 = c2(m(0)(1), m(0)(2), m(1)(1), m(1)(2))
      val a11 = c2(m(0)(0), m(0)(2), m(2)(0), m(2)(2))
      val a12 = c2(m(0)(2), m(0)(0), m(1)(2), m(1)(0))
      val a22 = c2(m(0)(0), m(0)(1), m(1)(0), m(1)(1))
      var num = BigInteger.ZERO
      vs.foreach { v =>
        val y = Array.tabulate(3)(b => bi(n * v(b) - s(b)))
        val t = y(0).multiply(y(0)).multiply(a00)
          .add(y(1).multiply(y(1)).multiply(a11))
          .add(y(2).multiply(y(2)).multiply(a22))
          .add(BigInteger.TWO.multiply(
            y(0).multiply(y(1)).multiply(a01)
              .add(y(0).multiply(y(2)).multiply(a02))
              .add(y(1).multiply(y(2)).multiply(a12))))
        num = num.add(t)
      }
      (n, det.toString, num.toString)
    }
  })

  /** autoscale over band 0 → (n_valid, Σ floor(out·1000)) with output
    * range [0,1000] (GeoRaster.h:355-363 min/max variant). */
  val autoscaleAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
    val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
    Pixels.validFloorSum(Pixels.autoscale(p, 0.0, 1000.0), 1000)
  })

  /** Histogram EQUALIZATION over band `bd` — the nonlinear contrast
    * stretch next to autoscale's linear one (the classic discrete
    * formula): v' = (cdf(v) − cdf_min) · (L−1) / (n − cdf_min) with
    * truncating integer division, where cdf(v) = #valid pixels ≤ v,
    * cdf_min = the minimum value's count, L = 256; constant bands map
    * to 0. Emits exact-integer per-image aggregates (n_valid, Σv',
    * min/max v', positional checksum Σ v'·(x+131y)) so the DuckDB
    * oracle replays the mapping with a ties-inclusive RANGE window
    * over the regenerated pixel grid. */
  val equalizeAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                         nb: Int, bd: Int) => {
    val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(bd)
    val cnt = new java.util.TreeMap[java.lang.Long, Long]()
    var n = 0L
    var i = 0
    while (i < p.length) {
      if (!p(i).isNaN) {
        val v = java.lang.Long.valueOf(p(i).toLong)
        cnt.put(v, cnt.getOrDefault(v, 0L) + 1L)
        n += 1
      }
      i += 1
    }
    if (n == 0L) (0L, 0L, 0L, 0L, 0L)
    else {
      val m = new java.util.HashMap[java.lang.Long, Long]()
      val cmin = cnt.firstEntry().getValue
      var run = 0L
      val it = cnt.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next(); run += e.getValue
        m.put(e.getKey, if (n == cmin) 0L else (run - cmin) * 255L / (n - cmin))
      }
      var s = 0L; var mn = Long.MaxValue; var mx = Long.MinValue; var chk = 0L
      i = 0
      while (i < p.length) {
        if (!p(i).isNaN) {
          val vp = m.get(java.lang.Long.valueOf(p(i).toLong))
          s += vp; if (vp < mn) mn = vp; if (vp > mx) mx = vp
          chk += vp * ((i % w) + 131L * (i / w))
        }
        i += 1
      }
      (n, s, mn, mx, chk)
    }
  })

  // ---- sun-geometry shadow smear (GeoAlgorithms.cpp:164-214) ----
  /** The reference's coarse shadow-covering smear: project the cloud
    * mask along the sun direction by OR-ing shifted copies, walking
    * from (dx,dy) back toward the origin in (xstep,ystep) strides.
    *   distance = cloudheight / tan(se);  dx = −sin(sa)·distance/xres;
    *   dy = cos(sa)·distance/yres;        steps = max(|d|/dilate/4, 1).
    * Shift is zero-fill; nodata (NaN) cells stay NaN. */
  /** The (sx, sy) shift list the shadow smear applies — exposed as the
    * single source of truth so the DuckDB oracle can embed the exact
    * same offsets as SQL literals (pure function of the sun geometry). */
  def smearOffsets(seDeg: Double, saDeg: Double, cloudheight: Double,
                   xres: Double = 30.0, yres: Double = 30.0,
                   dilate: Int = 3): Seq[(Int, Int)] = {
    val se = seDeg * math.Pi / 180.0
    val sa = saDeg * math.Pi / 180.0
    val distance = cloudheight / math.tan(se)
    val dx = (-math.sin(sa) * distance / xres).toInt
    val dy = (math.cos(sa) * distance / yres).toInt
    val smearlen = math.sqrt(dx.toDouble * dx + dy.toDouble * dy).toInt
    if (smearlen <= 0 || dx == 0 || dy == 0) return Seq.empty
    val signX = if (dx < 0) -1 else 1
    val signY = if (dy < 0) -1 else 1
    val xstep = math.max(signX * dx / dilate / 4, 1)
    val ystep = math.max(signY * dy / dilate / 4, 1)
    var xN = math.abs(dx); var yN = math.abs(dy)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    while (xN > 0 && yN > 0) {
      out += ((signX * xN, signY * yN))
      xN -= xstep; yN -= ystep
    }
    out.toSeq
  }

  def shadowSmear(mask: Array[Double], w: Int, h: Int,
                  seDeg: Double, saDeg: Double, cloudheight: Double,
                  xres: Double = 30.0, yres: Double = 30.0,
                  dilate: Int = 3): Array[Double] = {
    val out = mask.clone()
    smearOffsets(seDeg, saDeg, cloudheight, xres, yres, dilate)
      .foreach { case (sx, sy) =>
        var y = 0
        while (y < h) {
          val ys = y - sy
          if (ys >= 0 && ys < h) {
            var x = 0
            while (x < w) {
              val xs = x - sx
              if (xs >= 0 && xs < w && !out(y * w + x).isNaN &&
                  mask(ys * w + xs) == 1.0)
                out(y * w + x) = 1.0
              x += 1
            }
          }
          y += 1
        }
      }
    out
  }

  // ---- acca-style cloud mask (GeoAlgorithms.cpp:41-216 structure) ----
  /** ACCA re-creation without the thermal band (not synthesized):
    * pass 1 = threshold cascade flagging cloud candidates (bright blue
    * + non-vegetated + low whiteness) and AMBIGUOUS pixels (bright but
    * mid-NDVI — the reference's warm/ambiguous bucket); pass 2 derives
    * a global threshold from pass-1 candidate statistics (the
    * reference's between-jobs driver decision, GeoAlgorithms.cpp:
    * 127-162), reclassifies ambiguous pixels against it, and the final
    * mask is morphologically grown (the shadow-smear dilation analog,
    * :164-214). Returns (n_pass1, n_amb, n_cloud, n_final). */
  /** Pure acca pipeline on decoded planes — exposed for the spec.
    * Returns (pass1, cloudmask, final) where final = dilated mask OR
    * its sun-geometry shadow smear (se/sa in degrees; cloudheight=0
    * disables the smear, matching the pre-geometry behavior). */
  def accaPlanes(c: Array[Array[Double]], w: Int, h: Int,
                 seDeg: Double, saDeg: Double, cloudheight: Double)
      : (Array[Double], Array[Double], Array[Double]) = {
    val blue = c(0); val red = c(2); val nir = c(3)
    val white = whitenessPlane(c(2), c(1), c(0))
    // pass 1 cascade: 1=cloud candidate, 2=ambiguous, 0=clear, NaN=nodata
    val pass1 = new Array[Double](blue.length)
    var i = 0
    while (i < blue.length) {
      pass1(i) =
        if (blue(i).isNaN) Double.NaN
        else {
          val ndvi = (nir(i) - red(i)) / (nir(i) + red(i))
          if (blue(i) > 500 && ndvi < 0.3 && white(i) < 0.7) 1.0
          else if (blue(i) > 500 && ndvi < 0.6) 2.0
          else 0.0
        }
      i += 1
    }
    // pass 2: global mean blue over candidates → reclassify
    var s = 0.0; var n = 0L
    i = 0
    while (i < blue.length) {
      if (pass1(i) == 1.0) { s += blue(i); n += 1 }
      i += 1
    }
    val thresh = if (n == 0) Double.MaxValue else s / n
    val mask = new Array[Double](blue.length)
    i = 0
    while (i < blue.length) {
      mask(i) =
        if (blue(i).isNaN) Double.NaN
        else if (pass1(i) == 1.0 ||
                 (pass1(i) == 2.0 && blue(i) >= thresh)) 1.0
        else 0.0
      i += 1
    }
    val grown = Pixels.dilate(mask, w, h, 3, 3)
    val fin =
      if (cloudheight > 0)
        shadowSmear(grown, w, h, seDeg, saDeg, cloudheight)
      else grown
    (pass1, mask, fin)
  }

  // ---- FAITHFUL thermal ACCA (GeoAlgorithms.cpp:41-216) ----
  /** The reference cascade with its own constants, on reflectance
    * planes + an LWIR temperature plane (°C). CImg threshold semantics
    * are v ≥ th (CImg.h:23890); filters per GeoAlgorithms.cpp:79-99:
    *
    *   F1 ¬(red ≥ 0.08) | F2 ndsi ≥ 0.7 | F3 temp ≥ 27  → nonclouds
    *   F4 (1−swir1)(temp+273.15) ≥ 225 | F5 nir/red ≥ 2 |
    *   F6 nir/green ≥ 2 | ¬F7 nir/swir1 < 1             → ambclouds
    *   clouds = ¬(nonclouds ∨ ambclouds)
    *
    * Pass 2 (GeoAlgorithms.cpp:127-162): if cloudcover > 0.004 and the
    * cloud-temperature mean < 22, derive th0/th1 from LWIR percentiles
    * 83.5/97.5 (+ skew-shift capped by p98.75), then accept WARM
    * ambiguous clouds (th0 < T < th1) or else COLD ones (T < th0) when
    * their population is < 40% of the scene with mean < 22.
    *
    * Final assembly (GeoAlgorithms.cpp:192-213): clouds ⊕ accepted
    * ambclouds, OR saturation (any reflectance band ≥ satLevel),
    * erode, dilate, sun-geometry shadow smear; finalmask = ¬cloudmask
    * over valid pixels. The engine synthesizes no real LWIR DN — the
    * gate derives temp deterministically from the swir2 ramp — but the
    * cascade/percentile/acceptance logic here is the reference's own.
    * Returns (finalmask, cloudmask, ambclouds, pass1). */
  def accaThermal(c: Array[Array[Double]], temp: Array[Double], w: Int, h: Int,
                  seDeg: Double, saDeg: Double, erodePx: Int, dilatePx: Int,
                  cloudheight: Double, satLevel: Double = Double.MaxValue)
      : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val thRed = 0.08; val thNdsi = 0.7; val thTemp = 27.0; val thComp = 225.0
    val thNirRed = 2.0; val thNirGreen = 2.0; val thNirSwir1 = 1.0
    val red = c(2); val green = c(1); val nir = c(3); val swir1 = c(4)
    val n = w * h
    val pass1 = new Array[Double](n)
    val amb = new Array[Double](n)
    var scenesize = 0L; var cloudsum = 0L
    var i = 0
    while (i < n) {
      val valid = !red(i).isNaN && !green(i).isNaN && !nir(i).isNaN &&
        !swir1(i).isNaN && !temp(i).isNaN
      if (!valid) { pass1(i) = Double.NaN; amb(i) = Double.NaN }
      else {
        scenesize += 1
        val ndsi = (green(i) - swir1(i)) / (green(i) + swir1(i))
        val b56 = (1.0 - swir1(i)) * (temp(i) + 273.15)
        val noncloud = !(red(i) >= thRed) || ndsi >= thNdsi || temp(i) >= thTemp
        val ambHit = !noncloud &&
          (b56 >= thComp || nir(i) / red(i) >= thNirRed ||
           nir(i) / green(i) >= thNirGreen || !(nir(i) / swir1(i) >= thNirSwir1))
        val cloud = !noncloud && !ambHit
        pass1(i) = if (cloud) 1.0 else 0.0
        amb(i) = if (ambHit) 1.0 else 0.0
        if (cloud) cloudsum += 1
      }
      i += 1
    }
    // pass 2: thermal percentile decision over the cloud temperatures
    val cloudcover = if (scenesize == 0) 0.0 else cloudsum.toDouble / scenesize
    val cloudTemps = Array.tabulate(n)(i =>
      if (pass1(i) == 1.0) temp(i) else Double.NaN)
    val ts = Pixels.statsN(cloudTemps, n)
    var addclouds = false
    var ambAccepted = amb
    if (cloudcover > 0.004 && ts.mean < 22.0) {
      var th0 = Pixels.percentileN(temp, n, 83.5)
      var th1 = Pixels.percentileN(temp, n, 97.5)
      if (ts.skew > 0) {
        val th2 = Pixels.percentileN(temp, n, 98.75)
        var shift = ts.stddev * (if (ts.skew > 1.0) 1.0 else ts.skew)
        if (th2 - th1 < shift) shift = th2 - th1
        th0 += shift; th1 += shift
      }
      def restricted(pred: Double => Boolean): Array[Double] =
        Array.tabulate(n)(i =>
          if (amb(i).isNaN) Double.NaN
          else if (amb(i) == 1.0 && pred(temp(i))) 1.0 else 0.0)
      def accept(sel: Array[Double]): Boolean = {
        val selTemps = Array.tabulate(n)(i =>
          if (sel(i) == 1.0) temp(i) else Double.NaN)
        val st = Pixels.statsN(selTemps, n)
        st.count.toDouble / scenesize < 0.4 && st.mean < 22.0
      }
      val warm = restricted(t => t < th1 && t > th0)
      if (accept(warm)) { ambAccepted = warm; addclouds = true }
      else {
        val cold = restricted(t => t < th0)
        if (accept(cold)) { ambAccepted = cold; addclouds = true }
      }
    }
    // final assembly: pass1 (+ accepted ambclouds) | saturation,
    // erode → dilate → shadow smear; finalmask = ¬cloud over valid
    var clouds = Array.tabulate(n) { i =>
      if (pass1(i).isNaN) Double.NaN
      else {
        val sat = red(i) >= satLevel || green(i) >= satLevel ||
          nir(i) >= satLevel || swir1(i) >= satLevel
        if (pass1(i) == 1.0 || (addclouds && ambAccepted(i) == 1.0) || sat)
          1.0
        else 0.0
      }
    }
    if (erodePx > 0) clouds = Pixels.erode(clouds, w, h, erodePx, erodePx)
    if (dilatePx > 0) clouds = Pixels.dilate(clouds, w, h, dilatePx, dilatePx)
    if (cloudheight > 0)
      clouds = shadowSmear(clouds, w, h, seDeg, saDeg, cloudheight,
        dilate = math.max(1, dilatePx))
    val fin = Array.tabulate(n)(i =>
      if (clouds(i).isNaN) Double.NaN
      else if (clouds(i) == 1.0) 0.0 else 1.0)
    (fin, clouds, ambAccepted, pass1)
  }

  /** Per-image thermal-ACCA counts over the derived reflectance/LWIR
    * planes: refl = DN/4000 (red crosses the 0.08 filter), temp =
    * swir2/40 − 10 °C (spans the 22/27 °C decision points). Returns
    * (n_final, n_cloud, n_amb, n_pass1). */
  val accaThermalAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                            nb: Int, seDeg: Double, saDeg: Double,
                            erodePx: Int, dilatePx: Int,
                            cloudheight: Double) => {
    val c0 = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      6, "acca_thermal", fmt)
    val refl = c0.map(_.map(_ / 4000.0))
    val temp = c0(5).map(v => v / 40.0 - 10.0)
    val (fin, cm, ambA, p1) =
      accaThermal(refl, temp, w, h, seDeg, saDeg, erodePx, dilatePx,
        cloudheight)
    def cnt(p: Array[Double]): Long = {
      var m = 0L; var i = 0
      while (i < p.length) { if (p(i) == 1.0) m += 1; i += 1 }
      m
    }
    (cnt(fin), cnt(cm), cnt(ambA), cnt(p1))
  })

  /** Thermal ACCA on an INDEPENDENT LWIR plane (the multi-file band
    * stack: reflectance payload + separate single-band raw-i16le
    * thermal file, [[graft.gen.Synth.lwirImages]]), rather than the
    * swir2-derived proxy above. refl = DN/4000, temp = LWIR DN/40 − 10.
    * 6-band reflectance payload assumed (Spark `udf` caps at 10 args). */
  val accaThermalLwirAgg = udf((bytes: Array[Byte], lwir: Array[Byte],
                                w: Int, h: Int, fmt: String,
                                seDeg: Double, saDeg: Double,
                                erodePx: Int, dilatePx: Int,
                                cloudheight: Double) => {
    val c0 = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt),
      6, "acca_thermal_lwir", fmt)
    val refl = c0.map(_.map(_ / 4000.0))
    val temp = Codec.decode(lwir, w, h, 1, "raw-i16le")(0)
      .map(v => v / 40.0 - 10.0)
    val (fin, cm, ambA, p1) =
      accaThermal(refl, temp, w, h, seDeg, saDeg, erodePx, dilatePx,
        cloudheight)
    def cnt(p: Array[Double]): Long = {
      var m = 0L; var i = 0
      while (i < p.length) { if (p(i) == 1.0) m += 1; i += 1 }
      m
    }
    (cnt(fin), cnt(cm), cnt(ambA), cnt(p1))
  })

  val cloudMaskAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                          nb: Int, seDeg: Double, saDeg: Double,
                          cloudheight: Double) => {
    val c = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      4, "acca_cloud_mask", fmt)
    val (pass1, mask, fin) = accaPlanes(c, w, h, seDeg, saDeg, cloudheight)
    var np = 0L; var na = 0L; var nc = 0L; var ng = 0L
    var i = 0
    while (i < mask.length) {
      if (pass1(i) == 1.0) np += 1
      if (pass1(i) == 2.0) na += 1
      if (mask(i) == 1.0) nc += 1
      if (fin(i) == 1.0) ng += 1
      i += 1
    }
    (np, na, nc, ng)
  })

  // ---- fmask (GeoAlgorithms.cpp:290-445, declared-names spec) ----
  /** Fmask re-creation to the DECLARED band names
    * {"finalmask","cloudmask","PCP","clearskywater","clearskyland"}
    * (GeoAlgorithms.cpp:295) — the reference's body writes to
    * lower-case names that don't all resolve (SURVEY §2.8 documents the
    * bug); the declared set is the spec. No thermal band is synthesized
    * (as with acca), so swir2/1000 serves as the brightness-temperature
    * proxy; thresholds are the reference constants re-centered on the
    * synthetic [0.2, 2.5] pseudo-reflectance domain (original values in
    * comments). Multi-pass structure preserved exactly:
    *   pass 1 (:315-364): PCP cascade + water test + clear-sky land;
    *   global percentiles (:373-378): Twater/Tlo/Thi over the proxy;
    *   probability maps (:388-402): wprob/lprob with vprob;
    *   pass 2 (:414-442): final threshold + erode 5 + dilate d.
    * Returns the five planes in declared order. */
  def fmaskPlanes(c: Array[Array[Double]], w: Int, h: Int,
                  tolerance: Int = 3, dilatePx: Int = 3)
      : (Array[Double], Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val len = w * h
    val blue = c(0); val green = c(1); val red = c(2)
    val nir = c(3); val swir1 = c(4); val swir2 = c(5)
    val white = whitenessPlane(red, green, blue)
    val pcp = new Array[Double](len)
    val water = new Array[Double](len)
    val land = new Array[Double](len)
    val vprob = new Array[Double](len)
    var i = 0
    while (i < len) {
      if (blue(i).isNaN) {
        pcp(i) = Double.NaN; water(i) = Double.NaN; land(i) = Double.NaN
        vprob(i) = Double.NaN
      } else {
        val b = blue(i) / 1000; val g = green(i) / 1000; val r = red(i) / 1000
        val n = nir(i) / 1000; val s1 = swir1(i) / 1000; val s2 = swir2(i) / 1000
        val ndvi = (n - r) / (n + r)
        val ndsi = (g - s1) / (g + s1)
        // PCP cascade (:330-338): swir2 bright (ref 0.03), not hot (BT<27
        // ⇒ proxy s2 < 2.0), ndvi < 0.8, ndsi < 0.8, haze b−0.5r > 0.08,
        // whiteness < 0.7, nir/swir1 > 0.75
        pcp(i) = if (s2 > 0.4 && s2 < 2.0 && ndvi < 0.8 && ndsi < 0.8 &&
                     b - 0.5 * r > 0.08 && white(i) < 0.7 && n / s1 > 0.75) 1.0
                 else 0.0
        // water test (:355-356): (ndvi<0.01 ∧ nir<0.01)∨(ndvi<0.1 ∧ nir<0.05)
        // re-centered: nir 0.01→0.7, 0.05→0.8 on the synthetic domain
        water(i) = if ((ndvi < 0.01 && n < 0.7) || (ndvi < 0.1 && n < 0.8)) 1.0
                   else 0.0
        land(i) = if (water(i) == 0.0 && pcp(i) == 0.0) 1.0 else 0.0
        // variability probability (:346-351), saturation exceptions
        // omitted (no saturated synth pixels)
        vprob(i) = 1.0 - math.max(white(i), math.max(math.abs(ndsi), math.abs(ndvi)))
      }
      i += 1
    }
    // global percentiles over the BT proxy (:373-378)
    def maskedVals(sel: Array[Double]): Array[Double] = {
      val out = new Array[Double](len)
      var j = 0
      while (j < len) {
        out(j) = if (!sel(j).isNaN && sel(j) == 1.0) swir2(j) / 1000 else Double.NaN
        j += 1
      }
      out
    }
    val twater = Pixels.percentileN(maskedVals(water), len, 82.5)
    // "If not enough clear-sky land pixels then use all" — the
    // reference's (commented-out) intent at :372; without it an
    // all-water scene has NaN thresholds and a dead land-cloud path
    val hasLand = land.exists(_ == 1.0)
    val landBT =
      if (hasLand) maskedVals(land)
      else swir2.map(v => if (v.isNaN) Double.NaN else v / 1000)
    val tlo = Pixels.percentileN(landBT, len, 17.5)
    val thi = Pixels.percentileN(landBT, len, 82.5)
    // probability maps (:388-402); temperature spread 4°C → 0.4 proxy
    val wprob = new Array[Double](len)
    val lprob = new Array[Double](len)
    i = 0
    while (i < len) {
      if (blue(i).isNaN) { wprob(i) = Double.NaN; lprob(i) = Double.NaN }
      else {
        val s1 = swir1(i) / 1000; val s2 = swir2(i) / 1000
        wprob(i) = (twater - s2) / 0.4 * (math.min(s1, 1.1) / 1.1)
        lprob(i) = (thi + 0.4 - s2) / (thi + 0.4 - (tlo - 0.4)) * vprob(i)
      }
      i += 1
    }
    // land threshold (:408-410): P82.5 of lprob over clear-sky land + 0.2 + tol
    val tol = (tolerance - 3) * 0.1
    val wthresh = 0.5 + tol
    val lprobLand = new Array[Double](len)
    i = 0
    while (i < len) {
      lprobLand(i) =
        if (!lprob(i).isNaN && (if (hasLand) land(i) == 1.0 else true))
          lprob(i)
        else Double.NaN
      i += 1
    }
    val lthresh = Pixels.percentileN(lprobLand, len, 82.5) + 0.2 + tol
    // pass 2 (:425-436): threshold cascade, erode 5, dilate d
    val clouds = new Array[Double](len)
    i = 0
    while (i < len) {
      clouds(i) =
        if (blue(i).isNaN) Double.NaN
        else if ((pcp(i) == 1.0 && water(i) == 1.0 && wprob(i) > wthresh) ||
                 (pcp(i) == 1.0 && water(i) == 0.0 && lprob(i) > lthresh) ||
                 (lprob(i) > 0.99 && water(i) == 0.0) ||
                 (swir2(i) / 1000 > tlo + 0.25)) 1.0 // BT < Tlo−35°C analog, proxy-scaled
        else 0.0
      i += 1
    }
    val eroded = Pixels.erode(clouds, w, h, 5, 5)
    val cloudmask = Pixels.dilate(eroded, w, h, dilatePx, dilatePx)
    val finalmask = new Array[Double](len)
    i = 0
    while (i < len) {
      finalmask(i) =
        if (blue(i).isNaN) Double.NaN
        else if (cloudmask(i) == 1.0) 0.0 else 1.0
      i += 1
    }
    (finalmask, cloudmask, pcp, water, land)
  }

  /** Per-image fmask counts (n_final, n_cloud, n_pcp, n_water, n_land)
    * over the five declared bands. */
  val fmaskAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                      nb: Int, tolerance: Int, dilatePx: Int) => {
    val c = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      6, "fmask", fmt)
    val (fin, cm, pcp, water, land) = fmaskPlanes(c, w, h, tolerance, dilatePx)
    def cnt(p: Array[Double]): Long = {
      var n = 0L; var i = 0
      while (i < p.length) { if (p(i) == 1.0) n += 1; i += 1 }
      n
    }
    (cnt(fin), cnt(cm), cnt(pcp), cnt(water), cnt(land))
  })

  // ---- FAITHFUL thermal fmask (GeoAlgorithms.cpp:290-445) ----
  /** The reference fmask with its own constants on reflectance planes +
    * a brightness-temperature plane (°C):
    *
    *   PCP (:329-339): swir2 ≥ 0.03 ∧ BT ≤ 27 ∧ |ndvi| ≤ 0.8 ∧
    *     ndsi ≤ 0.8 ∧ blue−0.5·red ≥ 0.08 ∧ white ≤ 0.7 ∧
    *     nir/swir1 ≥ 0.75  (strict-threshold xor-1 forms ⇒ ≤);
    *   water test (:354-355): (ndvi ≤ 0.01 ∧ nir ≤ 0.01) ∨
    *     (ndvi ≤ 0.1 ∧ nir ≤ 0.05); land = ¬water ∧ ¬pcp;
    *   early exit (:368): pcp ≥ 99.9% of pixels → no thermal pass;
    *   Twater = p82.5 of BT over (swir2 < 0.03 ∧ water ∧ pcp); Tlo/Thi
    *     = p17.5/p82.5 of BT over land (:374-379);
    *   wprob = (Twater−BT)/4 · min(swir1,0.11)/0.11 (:396);
    *   lprob = (Thi+4−BT)/(Thi+4−(Tlo−4)) · vprob, with vprob = 1 −
    *     max(white, |ndsi|, |ndvi|) (:346-349) — per the algorithm's
    *     stated intent; the reference body accidentally multiplies by
    *     the just-written wcloud band instead (:400-401 reads "wcloud"
    *     after writing wprob there), documented divergence;
    *   thresholds (:405-408): wthresh = 0.5+(tol−3)·0.1 (the body
    *     computes it then hardcodes 0.5 at :426 — identical at the
    *     default tolerance 3; this rebuild applies wthresh), lthresh =
    *     p82.5 of lprob over land + 0.2 + (tol−3)·0.1;
    *   clouds (:425-429): (pcp ∧ water ∧ wprob ≥ wthresh) ∨ (pcp ∧
    *     ¬water ∧ lprob ≥ lthresh) ∨ (lprob > 0.99 ∧ ¬water) ∨
    *     (BT ≤ Tlo−35); erode 5, dilate `dilatePx`, final = ¬clouds.
    *
    * Returns (final, clouds, pcp, water, land). */
  def fmaskThermal(c: Array[Array[Double]], bt: Array[Double], w: Int, h: Int,
                   tolerance: Int = 3, dilatePx: Int = 3)
      : (Array[Double], Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val len = w * h
    val blue = c(0); val green = c(1); val red = c(2)
    val nir = c(3); val swir1 = c(4); val swir2 = c(5)
    val white = whitenessPlane(red, green, blue)
    val pcp = new Array[Double](len)
    val water = new Array[Double](len)
    val land = new Array[Double](len)
    val vprob = new Array[Double](len)
    var nData = 0L; var nPcp = 0L
    var i = 0
    while (i < len) {
      val valid = !blue(i).isNaN && !bt(i).isNaN
      if (!valid) {
        pcp(i) = Double.NaN; water(i) = Double.NaN; land(i) = Double.NaN
        vprob(i) = Double.NaN
      } else {
        nData += 1
        val ndvi = (nir(i) - red(i)) / (nir(i) + red(i))
        val ndsi = (green(i) - swir1(i)) / (green(i) + swir1(i))
        val isPcp = swir2(i) >= 0.03 && !(bt(i) > 27.0) && !(ndvi > 0.8) &&
          !(ndsi > 0.8) && blue(i) - 0.5 * red(i) >= 0.08 &&
          !(white(i) > 0.7) && nir(i) / swir1(i) >= 0.75
        pcp(i) = if (isPcp) 1.0 else 0.0
        if (isPcp) nPcp += 1
        val isWater = (!(ndvi > 0.01) && !(nir(i) > 0.01)) ||
                      (!(ndvi > 0.1) && !(nir(i) > 0.05))
        water(i) = if (isWater) 1.0 else 0.0
        land(i) = if (!isWater && !isPcp) 1.0 else 0.0
        vprob(i) = 1.0 - math.max(white(i),
          math.max(math.abs(ndsi), math.abs(ndvi)))
      }
      i += 1
    }
    // early exit: clouds everywhere — return pass-1 planes as the mask
    if (nData > 0 && nPcp >= 0.999 * nData) {
      val fin = Array.tabulate(len)(i =>
        if (pcp(i).isNaN) Double.NaN else 1.0 - pcp(i))
      return (fin, pcp.clone(), pcp, water, land)
    }
    def maskedBT(sel: Int => Boolean): Array[Double] =
      Array.tabulate(len)(i =>
        if (!pcp(i).isNaN && sel(i)) bt(i) else Double.NaN)
    val tWater = Pixels.percentileN(
      maskedBT(i => swir2(i) < 0.03 && water(i) == 1.0 && pcp(i) == 1.0),
      len, 82.5)
    val landBT = maskedBT(i => land(i) == 1.0)
    val tLo = Pixels.percentileN(landBT, len, 17.5)
    val tHi = Pixels.percentileN(landBT, len, 82.5)
    val wprob = new Array[Double](len)
    val lprob = new Array[Double](len)
    i = 0
    while (i < len) {
      if (pcp(i).isNaN) { wprob(i) = Double.NaN; lprob(i) = Double.NaN }
      else {
        wprob(i) = (tWater - bt(i)) / 4.0 *
          (math.min(swir1(i), 0.11) / 0.11)
        lprob(i) = (tHi + 4.0 - bt(i)) / (tHi + 4.0 - (tLo - 4.0)) * vprob(i)
      }
      i += 1
    }
    val tol = (tolerance - 3) * 0.1
    val wthresh = 0.5 + tol
    val lprobLand = Array.tabulate(len)(i =>
      if (land(i) == 1.0) lprob(i) else Double.NaN)
    val lthresh = Pixels.percentileN(lprobLand, len, 82.5) + 0.2 + tol
    var clouds = Array.tabulate(len) { i =>
      if (pcp(i).isNaN) Double.NaN
      else {
        val hit =
          (pcp(i) == 1.0 && water(i) == 1.0 && wprob(i) >= wthresh) ||
          (pcp(i) == 1.0 && water(i) == 0.0 && lprob(i) >= lthresh) ||
          (lprob(i) > 0.99 && water(i) == 0.0) ||
          !(bt(i) > tLo - 35.0)
        if (hit) 1.0 else 0.0
      }
    }
    clouds = Pixels.erode(clouds, w, h, 5, 5)
    if (dilatePx > 0) clouds = Pixels.dilate(clouds, w, h, dilatePx, dilatePx)
    val fin = Array.tabulate(len)(i =>
      if (clouds(i).isNaN) Double.NaN
      else if (clouds(i) == 1.0) 0.0 else 1.0)
    (fin, clouds, pcp, water, land)
  }

  /** Per-image thermal-fmask counts on the same derived planes as the
    * thermal acca gate (refl = DN/4000, BT = swir2 DN/40 − 10 °C):
    * (n_final, n_cloud, n_pcp, n_water, n_land). */
  val fmaskThermalAgg = udf((bytes: Array[Byte], w: Int, h: Int,
                             fmt: String, nb: Int, tolerance: Int,
                             dilatePx: Int) => {
    val c0 = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      6, "fmask_thermal", fmt)
    val refl = c0.map(_.map(_ / 4000.0))
    val bt = c0(5).map(v => v / 40.0 - 10.0)
    val (fin, cm, pcpP, waterP, landP) =
      fmaskThermal(refl, bt, w, h, tolerance, dilatePx)
    def cnt(p: Array[Double]): Long = {
      var m = 0L; var i = 0
      while (i < p.length) { if (p(i) == 1.0) m += 1; i += 1 }
      m
    }
    (cnt(fin), cnt(cm), cnt(pcpP), cnt(waterP), cnt(landP))
  })

  /** Thermal fmask on an INDEPENDENT LWIR plane (multi-file band
    * stack, see [[accaThermalLwirAgg]]): BT = LWIR DN/40 − 10 °C. */
  val fmaskThermalLwirAgg = udf((bytes: Array[Byte], lwir: Array[Byte],
                                 w: Int, h: Int, fmt: String,
                                 tolerance: Int, dilatePx: Int) => {
    val c0 = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt),
      6, "fmask_thermal_lwir", fmt)
    val refl = c0.map(_.map(_ / 4000.0))
    val bt = Codec.decode(lwir, w, h, 1, "raw-i16le")(0)
      .map(v => v / 40.0 - 10.0)
    val (fin, cm, pcpP, waterP, landP) =
      fmaskThermal(refl, bt, w, h, tolerance, dilatePx)
    def cnt(p: Array[Double]): Long = {
      var m = 0L; var i = 0
      while (i < p.length) { if (p(i) == 1.0) m += 1; i += 1 }
      m
    }
    (cnt(fin), cnt(cm), cnt(pcpP), cnt(waterP), cnt(landP))
  })

  // ---- pansharp_brovey (GeoAlgorithms.cpp:678-726) ----
  /** Brovey pansharpen: upscale RGB+NIR to the pan grid — CUBIC by
    * default, matching the reference's `warp_into(..., interp=2)`
    * upscale (GeoAlgorithms.cpp:695); interp=1 gives the bilinear
    * variant — then dnf = (pan − w3·nir) / (w0·r + w1·g + w2·b),
    * multiply RGB by dnf. */
  def pansharpBrovey(cube: Array[Array[Double]], w: Int, h: Int,
                     pan: Array[Double], pw: Int, ph: Int,
                     weights: Array[Double],
                     interp: Int = 2): Array[Array[Double]] = {
    // direct upscale (pan grid is an integer multiple): Warp's clamped
    // kernels; sample points stay inside [-0.5, w-0.5] so no NaN edge
    val sx = w.toDouble / pw; val sy = h.toDouble / ph
    def up2(p: Array[Double]): Array[Double] = {
      val o = new Array[Double](pw * ph)
      var j = 0
      while (j < ph) {
        var i2 = 0
        while (i2 < pw) {
          val px = (i2 + 0.5) * sx - 0.5; val py = (j + 0.5) * sy - 0.5
          o(j * pw + i2) =
            if (interp == 2) Warp.cubic(p, w, h, px, py)
            else Warp.bilinear(p, w, h, px, py)
          i2 += 1
        }
        j += 1
      }
      o
    }
    val r = up2(cube(2)); val g = up2(cube(1)); val b = up2(cube(0))
    val nirU = up2(cube(3))
    val out = Array(new Array[Double](pw * ph), new Array[Double](pw * ph),
      new Array[Double](pw * ph))
    var i = 0
    while (i < pw * ph) {
      val den = weights(0) * r(i) + weights(1) * g(i) + weights(2) * b(i)
      val dnf = if (den == 0 || pan(i).isNaN || r(i).isNaN) Double.NaN
                else (pan(i) - weights(3) * nirU(i)) / den
      out(0)(i) = r(i) * dnf; out(1)(i) = g(i) * dnf; out(2)(i) = b(i) * dnf
      i += 1
    }
    out
  }

  /** Per-image Brovey stats over the TWO-TABLE (MS ⋈ pan) join: decode
    * both payloads, sharpen, return (n_valid, Σ floor(out·1e3)) over
    * the three output bands. Weights 0.25 each (reference default is
    * caller-supplied; GeoAlgorithms.cpp:678-726). */
  val pansharpAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                         panBytes: Array[Byte], pw: Int, ph: Int) => {
    val cube = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt),
      4, "pansharp_brovey", fmt)
    val pan = Codec.decode(panBytes, pw, ph, 1, "raw-i16le")(0)
    val out = pansharpBrovey(cube, w, h, pan, pw, ph,
      Array(0.25, 0.25, 0.25, 0.25))
    out.take(3).map(Pixels.validFloorSum(_, 1e3))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  })

  // ---- read_random_pixels distributed + farthest-point seeding ----

  /** Seeded per-image spectra sample (read_random_pixels distributed,
    * GeoImage.h:297-319 made deterministic): n LCG grid draws per
    * image; draws touching nodata are skipped (rejection analog).
    * Returns (image_id, draw, spectrum). */
  def randomSpectra(imagesWithBytes: DataFrame, nPer: Int,
                    nb: Int = 6): DataFrame = {
    val sp = udf((k: Long, bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      (0 until nPer).flatMap { i =>
        val idx = java.lang.Math.floorMod(
          k * 1103515245L + i * 2654435761L, w.toLong * h).toInt
        val s = Array.tabulate(cube.length)(b => cube(b)(idx))
        if (s.exists(_.isNaN)) None else Some((i.toLong, s))
      }
    })
    imagesWithBytes
      .withColumn("sp", explode(sp(col("k"), col("bytes"),
        col("w").cast("int"), col("h").cast("int"), col("fmt"))))
      .select(col("image_id"), col("sp._1").as("draw"),
        col("sp._2").as("spectrum"))
  }

  /** get_random_classes (GeoAlgorithms.h:87-117): greedy farthest-point
    * seeding — seed 0 is the sample's first element (the reference uses
    * srand(time); pinned for determinism), each next seed maximizes the
    * min distance to the chosen set (ties → lowest index). Driver-side
    * over a bounded sample, exactly like the reference's num_random. */
  def farthestPointSeeds(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(sample.nonEmpty && k >= 1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    while (chosen.length < math.min(k, sample.length)) {
      var best = -1; var bestMin = -1.0
      var i = 0
      while (i < sample.length) {
        if (!chosen.contains(i)) {
          var mn = Double.MaxValue
          chosen.foreach(c => mn = math.min(mn, d2(sample(i), sample(c))))
          if (mn > bestMin) { bestMin = mn; best = i }
        }
        i += 1
      }
      chosen += best
    }
    chosen.map(sample).toArray
  }

  /** Driver-side Lloyd iterations over a bounded sample (the shared
    * inner loop of the sample-trained quantizers — IVF's spherical
    * k-means and PQ's per-subspace k-means): assign each point to its
    * nearest center (squared L2, ties → lowest index), recompute
    * means, keep an empty cluster's previous center. `post` maps each
    * recomputed mean (e.g. L2-renormalization for spherical k-means,
    * identity for Euclidean). Deterministic for fixed input. */
  def lloyd(sample: Array[Array[Double]], seeds: Array[Array[Double]],
            iters: Int,
            post: Array[Double] => Array[Double] = identity)
      : Array[Array[Double]] = {
    var centers = seeds
    val dim = sample.headOption.map(_.length).getOrElse(0)
    for (_ <- 1 to iters) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val cnts = new Array[Long](centers.length)
      sample.foreach { e =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centers.length) {
          var d = 0.0; var i = 0
          val cv = centers(c)
          while (i < dim) { val t = e(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += e(i); i += 1 }
      }
      centers = Array.tabulate(centers.length)(c =>
        if (cnts(c) == 0) centers(c)
        else post(sums(c).map(_ / cnts(c))))
    }
    centers
  }

  /** PIXEL-SPECTRA k-means (GeoAlgorithms.cpp:556-638): cluster the
    * sampled spectra of the whole images table — farthest-point seeds
    * from a bounded driver-side sample, then broadcast-assign /
    * groupBy-mean rounds (the chunk loop's cluster-scale shape).
    * Returns per-image cluster histogram (image_id, cluster, n_px). */
  def kmeansPixels(spark: SparkSession, imagesWithBytes: DataFrame,
                   k: Int, iters: Int, nPerImage: Int = 16): DataFrame = {
    import spark.implicits._
    val spectra = randomSpectra(imagesWithBytes, nPerImage)
      .select(col("image_id"), col("spectrum").cast("array<double>").as("e"))
      .as[(String, Array[Double])].cache()
    // bounded seed sample: lexicographically first images' draws
    val seedSample = spectra.orderBy("image_id").limit(64).collect().map(_._2)
    var centers = farthestPointSeeds(seedSample, k)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val a = spectra.map { case (id, e) =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < bc.value.length) {
          var d = 0.0; var i = 0
          val cv = bc.value(c)
          while (i < e.length) { val t = e(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (id, best, e)
      }.toDF("image_id", "cluster", "e")
      // keep exactly k center slots, indexed by CLUSTER ID: a cluster
      // that received no points carries its previous centroid forward
      // (positional indexing after a shrinking collect() would silently
      // shift every later cluster's centroid)
      val byId = a.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          array((0 until centers(0).length)
            .map(i => sum(col("e").getItem(i))): _*).as("s"))
        .collect()
        .map { row =>
          val n = row.getLong(1)
          row.getInt(0) -> row.getSeq[Double](2).map(_ / n).toArray
        }.toMap
      centers = Array.tabulate(centers.length)(c => byId.getOrElse(c, centers(c)))
      assigned = a.select(col("image_id"), col("cluster").cast("long"))
    }
    val out = assigned.groupBy(col("image_id"), col("cluster"))
      .agg(count(lit(1)).as("n_px"))
      .cache()
    out.count() // materialize before dropping the input cache
    spectra.unpersist()
    out
  }

  /** BIT-REPRODUCIBLE distributed k-means — the exact-integer variant
    * of [[kmeansEmbeddings]]: coordinates quantized to
    * floor(x·2^20) longs, centroids TRUNCATED integer means
    * (Σq / n, toward zero — matching SQL's `//`), distances exact
    * integer squared sums. Every
    * cross-row reduction is an INTEGER sum (associative — partition
    * order cannot change the result), so the clustering is identical
    * across partitionings, engines and re-runs; float k-means
    * ([[kmeansEmbeddings]], reference-faithful) is not, which is why
    * its gate is rows-only while this one is DuckDB-oracle-exact. The
    * ≤1-quantum centroid floor bias is immaterial at 2^20 scale, and
    * reproducible preprocessing is worth it in a 10¹²-row pipeline
    * (the same corpus must cluster identically on any cluster shape).
    * Seeds = the k lowest vec_ids; ties → lowest cluster id. */
  def kmeansEmbeddingsExact(spark: SparkSession, emb: DataFrame, k: Int,
                            iters: Int): DataFrame = {
    import spark.implicits._
    val vecs = emb.select(col("vec_id").cast("long"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1048576.0)).cast("long")).as("q"))
      .as[(Long, Array[Long])].cache()
    // seeds = the k lowest vec_ids on ANY id domain (orderBy/limit, the
    // kmeansPixelsExact pattern — a `vec_id < k` filter silently yields
    // fewer than k seeds when ids aren't 0-based contiguous)
    var centers: Array[Array[Long]] =
      vecs.orderBy(col(vecs.columns.head)).limit(k)
        .collect().sortBy(_._1).map(_._2)
    require(centers.length == k,
      s"kmeansEmbeddingsExact: corpus has ${centers.length} < $k vectors")
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val a = vecs.map { case (id, q) =>
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < bc.value.length) {
          var d = 0L; var i = 0
          val cv = bc.value(c)
          while (i < q.length) { val t = q(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (id, best, q)
      }.toDF("vec_id", "cluster", "q")
      val byId = a.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          array((0 until centers(0).length)
            .map(i => sum(col("q").getItem(i))): _*).as("s"))
        .collect()
        .map { row =>
          val n = row.getLong(1)
          row.getInt(0) -> row.getSeq[Long](2).map(_ / n).toArray
        }.toMap
      centers = Array.tabulate(centers.length)(c => byId.getOrElse(c, centers(c)))
      assigned = a.select(col("vec_id"), col("cluster").cast("long"))
    }
    val out = assigned.cache()
    out.count()
    vecs.unpersist()
    out
  }

  /** BIT-REPRODUCIBLE pixel-spectra k-means — the exact-integer sibling
    * of [[kmeansPixels]] (same contract as [[kmeansEmbeddingsExact]]):
    * ALL valid pixels' 6-band integer spectra (exact-codec payloads
    * decode to integers), seeds = the first valid pixel (min y, then
    * x) of each of the k lexicographically-first images (well-spread:
    * per-image base values differ), truncated-integer centroid means,
    * exact integer distances, ties → lowest cluster. Cross-row
    * reductions are integer sums → identical across partitionings and
    * replayable by the DuckDB oracle. Returns (image_id, cluster,
    * n_px). */
  def kmeansPixelsExact(spark: SparkSession, imagesWithBytes: DataFrame,
                        k: Int, iters: Int, nb: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val sp = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Long])]()
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (!cube(0)(y * w + x).isNaN)
            out += ((x, y, Array.tabulate(cube.length)(b =>
              cube(b)(y * w + x).toLong)))
          x += 1
        }
        y += 1
      }
      out.toSeq
    })
    val spectra = imagesWithBytes
      .withColumn("p", explode(sp(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt"))))
      .select(col("image_id"), col("p._1").as("x"), col("p._2").as("y"),
        col("p._3").as("q"))
      .as[(String, Int, Int, Array[Long])].cache()
    val wFirst = Window.partitionBy(col("image_id"))
      .orderBy(col("y"), col("x"))
    var centers: Array[Array[Long]] = spectra.toDF()
      .withColumn("rn", row_number().over(wFirst))
      .where(col("rn") === 1)
      .orderBy("image_id").limit(k)
      .select("q").as[Array[Long]].collect()
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val a = spectra.map { case (id, _, _, q) =>
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < bc.value.length) {
          var d = 0L; var i = 0
          val cv = bc.value(c)
          while (i < q.length) { val t = q(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (id, best, q)
      }.toDF("image_id", "cluster", "q")
      val byId = a.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          array((0 until centers(0).length)
            .map(i => sum(col("q").getItem(i))): _*).as("s"))
        .collect()
        .map { row =>
          val n = row.getLong(1)
          row.getInt(0) -> row.getSeq[Long](2).map(_ / n).toArray
        }.toMap
      centers = Array.tabulate(centers.length)(c => byId.getOrElse(c, centers(c)))
      assigned = a.select(col("image_id"), col("cluster").cast("long"))
    }
    val out = assigned.groupBy(col("image_id"), col("cluster"))
      .agg(count(lit(1)).as("n_px")).cache()
    out.count()
    spectra.unpersist()
    out
  }

  // ---- distributed k-means over embeddings ----
  /** Deterministic k-means on the embeddings table: centers seeded from
    * the `k` lowest vec_ids; fixed `iters` rounds of broadcast-assign /
    * groupBy-mean. Returns (vec_id, cluster). */
  def kmeansEmbeddings(spark: SparkSession, emb: DataFrame, k: Int,
                       iters: Int): DataFrame = {
    import spark.implicits._
    val vecs = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("e"))
      .as[(Long, Array[Double])].cache()
    // seeds = the k lowest vec_ids on ANY id domain (see
    // kmeansEmbeddingsExact — same fix)
    var centers: Array[Array[Double]] =
      vecs.orderBy(col(vecs.columns.head)).limit(k)
        .collect().sortBy(_._1).map(_._2)
    require(centers.length == k,
      s"kmeansEmbeddings: corpus has ${centers.length} < $k vectors")
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val a = vecs.map { case (id, e) =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < bc.value.length) {
          var d = 0.0; var i = 0
          val cv = bc.value(c)
          while (i < e.length) { val t = e(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (id, best, e)
      }.toDF("vec_id", "cluster", "e")
      // k slots indexed by cluster id; empty clusters keep their center
      // (see kmeansPixels — same latent index-shift hazard)
      val byId = a.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          array((0 until centers(0).length)
            .map(i => sum(col("e").getItem(i))): _*).as("s"))
        .collect()
        .map { row =>
          val n = row.getLong(1)
          row.getInt(0) -> row.getSeq[Double](2).map(_ / n).toArray
        }.toMap
      centers = Array.tabulate(centers.length)(c => byId.getOrElse(c, centers(c)))
      assigned = a.select(col("vec_id"), col("cluster").cast("long"))
    }
    val out = assigned.cache()
    out.count()
    vecs.unpersist()
    out
  }
}
