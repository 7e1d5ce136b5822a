package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Codec, Geom, Pixels}
import graft.core.Geom.BBoxD

/** Warp/reproject: output-grid calculation (bit-exact re-derivation of
  * the reference's /root/reference/GIP/GeoImage.cpp:293-326) plus
  * nearest/bilinear/cubic resampling kernels over decoded planes.
  *
  * The grid math is pure driver-free arithmetic; resampling is a
  * per-row gather kernel (image-per-row model). The distributed
  * many-tile variant reuses the same kernel per destination tile after
  * a tile-gather join (see Mosaic).
  */
object Warp {

  final case class Grid(x0: Double, y0: Double, x1: Double, y1: Double,
                        w: Int, h: Int, xres: Double, yres: Double)

  /** Output size: ceil(extent/res) (GeoImage.cpp:317-318). */
  def outputGrid(ext: BBoxD, xres: Double, yres: Double): Grid =
    Grid(ext.x0, ext.y0, ext.x1, ext.y1,
      math.ceil(ext.width / math.abs(xres)).toInt,
      math.ceil(ext.height / math.abs(yres)).toInt, xres, yres)

  /** Crop+anchor extent (GeoImage.cpp:308-316): intersect with the
    * feature extent, anchor x to the feature's left edge and y to the
    * feature's TOP edge on a res-multiple lattice. */
  def cropAnchoredExtent(ext: BBoxD, fext: BBoxD, xres: Double, yres: Double): BBoxD = {
    val i = ext.intersect(fext)
    BBoxD(
      fext.x0 + math.floor((i.x0 - fext.x0) / xres) * xres,
      i.y0,
      i.x1,
      fext.y1 - math.floor((fext.y1 - i.y1) / yres) * yres)
  }

  /** Reproject an extent 4326→3857 (the only cross-SRS pair the
    * reference tests exercise; see GeomCellSpec golden 1114×1114). */
  def extentTo3857(ext: BBoxD): BBoxD = Geom.Mercator.forwardBBox(ext)

  /** Identity dst→src geo transform (same SRS both sides). */
  val SameSrs: (Double, Double) => (Double, Double) = (x, y) => (x, y)

  /** dst is EPSG:3857, source geographic: inverse spherical mercator. */
  val MercatorToGeo: (Double, Double) => (Double, Double) =
    (x, y) => Geom.Mercator.inverse(x, y)

  /** dst is a Transverse-Mercator/UTM CRS, source geographic — e.g.
    * the reference fixture's WGS72BE UTM 16N cookie-cutter target
    * (test_GeoAlgorithms.py:86-111, Geom.Utm16N_Wgs72BE). */
  def utmToGeo(tm: Geom.TransverseMercator): (Double, Double) => (Double, Double) =
    (x, y) => tm.inverse(x, y)

  /** Gather-resample a source plane onto a destination grid.
    * `srcX0,srcY1,srcXres,srcYres`: source north-up affine; dst pixel
    * centers map through `dstToSrc` into the source's geo space —
    * [[SameSrs]], [[MercatorToGeo]], [[utmToGeo]] or any custom CRS
    * hop. interp: 0=nearest, 1=bilinear, 2=cubic (Catmull-Rom), per
    * the reference's interpolation switch
    * (/root/reference/GIP/GeoRaster.cpp:240-246). Out-of-source or
    * nodata-touching samples yield NaN. */
  def resample(src: Array[Double], sw: Int, sh: Int,
               srcX0: Double, srcY1: Double, srcXres: Double, srcYres: Double,
               dst: Grid, interp: Int,
               dstToSrc: (Double, Double) => (Double, Double) = SameSrs): Array[Double] = {
    val out = new Array[Double](dst.w * dst.h)
    var j = 0
    while (j < dst.h) {
      var i = 0
      while (i < dst.w) {
        val gx0 = dst.x0 + (i + 0.5) * dst.xres
        val gy0 = dst.y1 - (j + 0.5) * math.abs(dst.yres)
        val (gx, gy) = dstToSrc(gx0, gy0)
        val px = (gx - srcX0) / srcXres - 0.5
        val py = (srcY1 - gy) / srcYres - 0.5
        out(j * dst.w + i) = interp match {
          case 0 =>
            val xi = math.round(px).toInt; val yi = math.round(py).toInt
            if (xi < 0 || xi >= sw || yi < 0 || yi >= sh) Double.NaN
            else src(yi * sw + xi)
          case 1 => bilinear(src, sw, sh, px, py)
          case _ => cubic(src, sw, sh, px, py)
        }
        i += 1
      }
      j += 1
    }
    out
  }

  /** NEAREST decimation of a plane to pyramid level `l` — the same
    * convention as the overview table (Bands.overviewPyramidAgg,
    * GDAL NEAREST per /root/reference/GIP/GeoImage.cpp:284-291):
    * ov(x,y) = src(Lx, Ly), dims ceil(w/L) × ceil(h/L). */
  def overviewPlane(src: Array[Double], sw: Int, sh: Int, l: Int)
      : (Array[Double], Int, Int) = {
    val ow = (sw + l - 1) / l; val oh = (sh + l - 1) / l
    val o = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) { o(y * ow + x) = src((l * y) * sw + l * x); x += 1 }
      y += 1
    }
    (o, ow, oh)
  }

  /** GDAL-style overview selection: the largest pyramid level ≤ the
    * dst/src resolution ratio (1 = read the base image). */
  def overviewLevelFor(scale: Double, levels: Seq[Int] = Seq(8, 4, 2)): Int =
    levels.sorted.reverse.find(_ <= scale).getOrElse(1)

  /** Overview-aware downscale warp: a coarse-output warp reads the
    * pyramid, not the base payload — at level L that is 1/L² of the
    * pixels decoded, resampled and shipped, which is the difference
    * between a browse-resolution mosaic over 10¹² images touching
    * 100 TB or ~1.5 TB. Picks the level from the resolution ratio,
    * decimates (or, in the table model, reads the overview row),
    * then runs the standard [[resample]] with the level-adjusted
    * affine (origin unchanged, res × L). Same-SRS only — a CRS hop
    * changes the scale per-pixel, so cross-SRS warps keep the
    * conservative base path. */
  def resampleWithOverviews(src: Array[Double], sw: Int, sh: Int,
                            srcX0: Double, srcY1: Double,
                            srcXres: Double, srcYres: Double,
                            dst: Grid, interp: Int,
                            levels: Seq[Int] = Seq(8, 4, 2)): Array[Double] = {
    val scale = math.min(dst.xres / srcXres, math.abs(dst.yres) / srcYres)
    val l = overviewLevelFor(scale, levels)
    if (l <= 1)
      resample(src, sw, sh, srcX0, srcY1, srcXres, srcYres, dst, interp)
    else {
      val (ov, ow, oh) = overviewPlane(src, sw, sh, l)
      resample(ov, ow, oh, srcX0, srcY1, srcXres * l, srcYres * l,
        dst, interp)
    }
  }

  /** Merge warp fragments with the reference's sequential-overwrite
    * semantics (/root/reference/GIP/GeoAlgorithms.cpp:280-283 +
    * GeoRaster.cpp:210-310 noinit path): fragments apply in ascending
    * key order; a later image's VALID pixel overwrites, its nodata
    * (NaN) never does. Pure — also used by the spec directly. */
  def mergeFragments(frags: Seq[(Long, Array[Double])], len: Int): Array[Double] = {
    val out = Array.fill(len)(Double.NaN)
    frags.sortBy(_._1).foreach { case (_, f) =>
      var i = 0
      while (i < len) { if (!f(i).isNaN) out(i) = f(i); i += 1 }
    }
    out
  }

  /** Per-pixel MAX composite (cloud-free / greenest-pixel compositing:
    * the classic best-pixel temporal mosaic rule) — NaN-ignoring,
    * order-INSENSITIVE, so no fragment sort is needed and the merge
    * commutes with any shuffle order. */
  def mergeFragmentsMax(frags: Seq[(Long, Array[Double])], len: Int): Array[Double] = {
    val out = Array.fill(len)(Double.NaN)
    frags.foreach { case (_, f) =>
      var i = 0
      while (i < len) {
        val v = f(i)
        if (!v.isNaN && (out(i).isNaN || v > out(i))) out(i) = v
        i += 1
      }
    }
    out
  }

  /** Per-pixel LOWER-MEDIAN composite — the robust temporal-mosaic
    * rule (rejects transient outliers like clouds/shadows that max/
    * overlay keep). Lower median = sorted valid values at index
    * (n−1)/2: deterministic for even counts, order-insensitive, and
    * exactly replayable as a rank filter in SQL. */
  def mergeFragmentsMedian(frags: Seq[(Long, Array[Double])], len: Int): Array[Double] = {
    val out = Array.fill(len)(Double.NaN)
    val buf = new Array[Double](frags.length)
    var i = 0
    while (i < len) {
      var n = 0
      frags.foreach { case (_, f) =>
        if (!f(i).isNaN) { buf(n) = f(i); n += 1 }
      }
      if (n > 0) {
        java.util.Arrays.sort(buf, 0, n)
        out(i) = buf((n - 1) / 2)
      }
      i += 1
    }
    out
  }

  /** Rasterized cutline (GeoRaster.cpp:261-285): pixels of `grid` whose
    * CENTER falls outside the polygon ring become NaN. */
  def cutlineMask(plane: Array[Double], grid: Grid, wkt: String): Array[Double] = {
    val (xs, ys) = Geom.parsePolygonWkt(wkt)
    val out = plane.clone()
    var j = 0
    while (j < grid.h) {
      val gy = grid.y1 - (j + 0.5) * math.abs(grid.yres)
      var i = 0
      while (i < grid.w) {
        val gx = grid.x0 + (i + 0.5) * grid.xres
        if (!Geom.pointInPolygon(gx, gy, xs, ys)) out(j * grid.w + i) = Double.NaN
        i += 1
      }
      j += 1
    }
    out
  }

  /** DISTRIBUTED warp_into + cookie-cutter pixel merge — the tile-gather
    * join the reference's multithreaded `ChunkAndWarpMulti` maps to at
    * cluster scale (GeoRaster.cpp:210-310; mosaic loop
    * GeoAlgorithms.cpp:225-286):
    *
    *   1. each destination grid (gid, gx0..gy1 mdeg, north-up, `resM`
    *      mdeg/px) explodes into `tilePx`² pixel tiles;
    *   2. source images GATHER-join the tiles they overlap through the
    *      COVERING-CELL EQUI-JOIN (same machinery as SpatialJoin:
    *      explode res-`cellRes` cells on both sides, equi-join on the
    *      packed cell key, dedup via the intersection's min-corner
    *      reporter cell, exact range refine after). NO nested-loop
    *      join anywhere in the plan (asserted by WarpIntoSpec); tiles
    *      broadcast when small (`broadcastTiles`), else the cell key
    *      shuffles both sides — the 10¹²-row path;
    *   3. each (tile, image) pair resamples EVERY stored band of the
    *      image (up to `nbBands`) onto the tile window — the
    *      reference's per-band warp loop
    *      (/root/reference/GIP/GeoImage.cpp:329-338) — decoding the
    *      payload ONCE per (image, tile) run via [[Codec.decodeMemo]]
    *      (an image overlapping T tiles decodes once, not T times);
    *      optionally cut to `cutWkt`;
    *   4. groupBy(tile, band) merges fragments in ascending image-key
    *      order — valid-overwrites, nodata-never — replacing the
    *      reference's sequential writes with an order-insensitive
    *      aggregation.
    *
    * `images` needs (k, image_id, bytes, w, h, fmt, x0m, y1m, and the
    * footprint columns for the join); `grids` needs (gid, gx0, gy0,
    * gx1, gy1). Returns per-tile-band (gid, tx, ty, band, n_valid,
    * vsum) with vsum the exact integer sum of merged valid pixels —
    * exact for interp=0 on integer planes; for interp=1/2 it is the
    * floor-free toLong truncation of the interpolated doubles
    * (documented contract; per-pixel parity for non-nearest kernels
    * lives in the resample specs, not vsum). `nbBands` defaults to 1
    * (band 0 only); single-band codecs (png/bmp/jpg) always contribute
    * exactly their one stored band regardless of `nbBands`.
    *
    * `cellRes` must satisfy cellSize(cellRes) ≥ max image/tile extent
    * (res 7 = 4096 mdeg covers this engine's ≤1024 mdeg footprints and
    * default 128 mdeg tiles). */
  def warpInto(images: DataFrame, grids: DataFrame, resM: Long = 4L,
               tilePx: Int = 32, interp: Int = 0,
               pairPredicate: Column = lit(true),
               cutWkt: Column = lit(null).cast("string"),
               broadcastTiles: Boolean = true,
               cellRes: Int = 7, nbBands: Int = 1,
               mergeMode: Int = 0): DataFrame = {
    require(mergeMode >= 0 && mergeMode <= 3,
      s"mergeMode=$mergeMode (0 = ascending-key overlay, " +
        "1 = per-pixel MAX, 2 = per-pixel lower MEDIAN, " +
        "3 = distance-FEATHERED blend)")
    require(tilePx > 0 && tilePx < 2048,
      s"tilePx=$tilePx out of range (packed into 11 bits: 1..2047)")
    val tpx = tilePx.toLong
    val tiles = grids
      .withColumn("out_w", Tiling.idiv(col("gx1") - col("gx0") + resM - 1, lit(resM)))
      .withColumn("out_h", Tiling.idiv(col("gy1") - col("gy0") + resM - 1, lit(resM)))
      .withColumn("tx", explode(sequence(lit(0L),
        Tiling.idiv(col("out_w") + tpx - 1, lit(tpx)) - 1)))
      .withColumn("ty", explode(sequence(lit(0L),
        Tiling.idiv(col("out_h") + tpx - 1, lit(tpx)) - 1)))
      .withColumn("tw", least(lit(tpx), col("out_w") - col("tx") * tpx))
      .withColumn("th", least(lit(tpx), col("out_h") - col("ty") * tpx))
      .withColumn("tgx0", col("gx0") + col("tx") * (tpx * resM))
      .withColumn("tgy1", col("gy1") - col("ty") * (tpx * resM))
      .withColumn("tgx1", col("tgx0") + col("tw") * resM)
      .withColumn("tgy0", col("tgy1") - col("th") * resM)
    // the covering-cell rect join (SpatialJoin's scaladoc) of images
    // against output tiles
    import SpatialJoin.{Box, ImageBox, coverCells, overlapsOnce}
    val tileBox = Box("tgx0", "tgy0", "tgx1", "tgy1")
    val tileCells = coverCells(tiles, cellRes, tileBox).drop("cix", "ciy")
    val pairs = coverCells(images, cellRes, ImageBox)
      .join(if (broadcastTiles) broadcast(tileCells) else tileCells, Seq("cell"))
      .where(overlapsOnce(ImageBox, tileBox, cellRes) && pairPredicate)
      .drop("cell", "cix", "ciy")
    // struct args (udf arity cap is 10); per-band fragments out, band
    // index = position. decodeMemo: one payload decode per run of
    // same-image join rows (both join strategies emit a streamed row's
    // matches contiguously), not one per (image, tile) pair.
    val fragUdf = udf((img: org.apache.spark.sql.Row,
                       tile: org.apache.spark.sql.Row) => {
      val k = img.getLong(0)
      val bytes = img.getAs[Array[Byte]](1)
      val w = img.getInt(2); val h = img.getInt(3)
      val fmt = img.getString(4)
      val x0m = img.getLong(5); val y1m = img.getLong(6)
      val tgx0 = tile.getLong(0); val tgy1 = tile.getLong(1)
      val tw = tile.getLong(2).toInt; val th = tile.getLong(3).toInt
      val cut = if (tile.isNullAt(4)) null else tile.getString(4)
      val stored = Codec.bandsStored(fmt, graft.gen.Synth.NumBands)
      val planes = Codec.decodeMemo(k, bytes, w, h, stored, fmt)
      val grid = Grid(tgx0.toDouble, (tgy1 - th * resM).toDouble,
        (tgx0 + tw * resM).toDouble, tgy1.toDouble,
        tw, th, resM.toDouble, resM.toDouble)
      // fragments travel as PACKED LITTLE-ENDIAN doubles (binary), not
      // array<double>: a Seq[Double] fragment boxes every pixel on the
      // way into the shuffle (pairs × bands × tile pixels of java.lang
      // .Double) — the byte image is the same 8 B/px with zero boxing
      // mergeMode 3 (feathered blend): one squared-Euclidean distance
      // plane per image — weight of a source pixel = its exact d² to
      // the nearest nodata/outside cell (integer; Pixels.edt2) — is
      // resampled NEAREST alongside the values (weights must stay
      // exact integers whatever the value interp) and travels
      // interleaved after the values (fragment = 2·len doubles)
      val wFrag: Array[Double] =
        if (mergeMode != 3) null
        else {
          val fg = Array.tabulate(w * h)(i => !planes(0)(i).isNaN)
          val d2 = Pixels.edt2(fg, w, h)
          val wr = resample(d2, w, h, x0m.toDouble, y1m.toDouble,
            resM.toDouble, resM.toDouble, grid, 0)
          if (cut == null) wr else cutlineMask(wr, grid, cut)
        }
      (0 until math.min(nbBands, stored)).map { b =>
        val f = resample(planes(b), w, h, x0m.toDouble, y1m.toDouble,
          resM.toDouble, resM.toDouble, grid, interp)
        val fc = if (cut == null) f else cutlineMask(f, grid, cut)
        val n = if (wFrag == null) fc.length else fc.length * 2
        val bb = java.nio.ByteBuffer.allocate(n * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val db = bb.asDoubleBuffer()
        db.put(fc)
        if (wFrag != null) db.put(wFrag)
        bb.array()
      }
    })
    val mergeUdf = udf((frags: Seq[org.apache.spark.sql.Row], len: Int) => {
      if (mergeMode == 3) {
        // feathered blend: per output pixel num = Σ w·v, den = Σ w
        // over contributing fragments (w = source d², exact integers;
        // order-insensitive by construction). n_valid counts pixels
        // with any positive-weight hit; consumers form v = num/den.
        val num = new Array[Long](len)
        val den = new Array[Long](len)
        frags.foreach { r =>
          val fb = r.getAs[Array[Byte]](1)
          val out = new Array[Double](len * 2)
          java.nio.ByteBuffer.wrap(fb)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            .asDoubleBuffer().get(out)
          var i = 0
          while (i < len) {
            val v = out(i); val wt = out(len + i)
            if (!v.isNaN && !wt.isNaN && wt > 0) {
              num(i) += wt.toLong * v.toLong
              den(i) += wt.toLong
            }
            i += 1
          }
        }
        var n = 0L; var sn = 0L; var sd = 0L; var i = 0
        while (i < len) {
          if (den(i) > 0) { n += 1; sn += num(i); sd += den(i) }
          i += 1
        }
        (n, sn, sd)
      } else {
        val merge: (Seq[(Long, Array[Double])], Int) => Array[Double] =
          if (mergeMode == 1) mergeFragmentsMax
          else if (mergeMode == 2) mergeFragmentsMedian
          else mergeFragments
        val merged = merge(
          frags.map { r =>
            val fb = r.getAs[Array[Byte]](1)
            val out = new Array[Double](len)
            java.nio.ByteBuffer.wrap(fb)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              .asDoubleBuffer().get(out)
            (r.getLong(0), out)
          }, len)
        val (n, s) = Pixels.validSum(merged)
        (n, s, 0L)
      }
    })
    pairs
      .withColumn("fr", fragUdf(
        struct(col("k"), col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("x0m"), col("y1m")),
        struct(col("tgx0"), col("tgy1"), col("tw"), col("th"), cutWkt)))
      .select(col("gid"), col("tx"), col("ty"), col("tw"), col("th"),
        col("k"), posexplode(col("fr")).as(Seq("band", "frag")))
      .groupBy(col("gid"), col("tx"), col("ty"), col("tw"), col("th"),
        col("band"))
      .agg(collect_list(struct(col("k"), col("frag"))).as("frags"))
      .withColumn("m", mergeUdf(col("frags"), (col("tw") * col("th")).cast("int")))
      .select(Seq(col("gid"), col("tx"), col("ty"),
        col("band").cast("long").as("band"),
        col("m._1").as("n_valid"),
        col("m._2").as(if (mergeMode == 3) "wvsum" else "vsum")) ++
        (if (mergeMode == 3) Seq(col("m._3").as("wsum")) else Nil): _*)
  }

  private def at(src: Array[Double], sw: Int, sh: Int, x: Int, y: Int): Double = {
    val xc = math.max(0, math.min(sw - 1, x))
    val yc = math.max(0, math.min(sh - 1, y))
    src(yc * sw + xc)
  }

  private[ops] def bilinear(src: Array[Double], sw: Int, sh: Int,
                            px: Double, py: Double): Double = {
    if (px < -0.5 || px > sw - 0.5 || py < -0.5 || py > sh - 0.5) return Double.NaN
    val x0 = math.floor(px).toInt; val y0 = math.floor(py).toInt
    val fx = px - x0; val fy = py - y0
    val v00 = at(src, sw, sh, x0, y0);     val v10 = at(src, sw, sh, x0 + 1, y0)
    val v01 = at(src, sw, sh, x0, y0 + 1); val v11 = at(src, sw, sh, x0 + 1, y0 + 1)
    (v00 * (1 - fx) + v10 * fx) * (1 - fy) + (v01 * (1 - fx) + v11 * fx) * fy
  }

  private def cubic1(p0: Double, p1: Double, p2: Double, p3: Double, t: Double): Double =
    p1 + 0.5 * t * (p2 - p0 + t * (2 * p0 - 5 * p1 + 4 * p2 - p3 +
      t * (3 * (p1 - p2) + p3 - p0)))

  private[ops] def cubic(src: Array[Double], sw: Int, sh: Int,
                         px: Double, py: Double): Double = {
    if (px < -0.5 || px > sw - 0.5 || py < -0.5 || py > sh - 0.5) return Double.NaN
    val x1 = math.floor(px).toInt; val y1 = math.floor(py).toInt
    val fx = px - x1; val fy = py - y1
    val rows = (-1 to 2).map { dy =>
      cubic1(at(src, sw, sh, x1 - 1, y1 + dy), at(src, sw, sh, x1, y1 + dy),
             at(src, sw, sh, x1 + 1, y1 + dy), at(src, sw, sh, x1 + 2, y1 + dy), fx)
    }
    cubic1(rows(0), rows(1), rows(2), rows(3), fy)
  }
}
