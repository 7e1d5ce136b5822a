package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Codec, Pixels}

/** Per-image / per-band statistics over DECODED pixel payloads — the
  * Spark re-creation of the reference's band stats
  * (/root/reference/GIP/GeoRaster.cpp:82-176). Each row's statistics
  * are computed by a single-pass kernel inside a projection (one decode
  * per image, all bands in one go, no shuffle); cross-image rollups are
  * then ordinary Catalyst aggregates.
  */
object Stats {

  /** Row-level kernel: decode all stored bands, one stats pass each.
    * Returns array of (band, cnt, vsum, vmin, vmax, vsumsq) — values
    * are integral by synthesis, surfaced as exact BIGINTs. */
  val bandStatsUdf = udf(
    (bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) =>
      // fused decode+stats streaming pass (Codec.bandStatsFused):
      // bit-identical to stats(decode(...)(b)) per band, zero plane
      // allocation — the corpus-stats gates were GC-bound on the
      // transient double planes
      Codec.bandStatsFused(bytes, w, h, Codec.bandsStored(fmt, nb), fmt))

  /** images (with bytes) → one row per (image, band) with exact stats. */
  def bandStats(imagesWithBytes: DataFrame, nb: Int): DataFrame =
    imagesWithBytes
      .withColumn("bs", explode(bandStatsUdf(
        col("bytes"), col("w").cast("int"), col("h").cast("int"),
        col("fmt"), lit(nb))))
      .select(col("image_id"),
        col("bs._1").as("band"), col("bs._2").as("cnt"),
        col("bs._3").as("vsum"), col("bs._4").as("vmin"),
        col("bs._5").as("vmax"), col("bs._6").as("vsumsq"))

  /** Corpus-level per-CHANNEL normalization constants — the dataset
    * mean/std inputs every vision-training pipeline precomputes. One
    * decode pass per image emits the exact per-(image, band) partials;
    * the cross-corpus reduce is a map-side-combined aggregate over a
    * `nb`-key space, so at 10¹² images the shuffle carries ≤ nb rows
    * per map partition. mean = vsum/cnt, var = vsumsq/cnt − mean² are
    * derived from the exact integers by the caller. */
  def channelNorm(imagesWithBytes: DataFrame, nb: Int): DataFrame =
    bandStats(imagesWithBytes, nb)
      .groupBy("band")
      .agg(count(lit(1)).as("n_images"), sum("cnt").as("cnt"),
        sum("vsum").as("vsum"), sum("vsumsq").as("vsumsq"),
        min("vmin").as("vmin"), max("vmax").as("vmax"))

  /** Distributed corpus-wide histogram over COMMON bins — the
    * mergeable-summary path to corpus quantiles: pass 1 reduces the
    * exact per-image stats to the corpus [min,max] (a `bins`-free
    * metadata aggregate); pass 2 histograms every image into the same
    * broadcast bounds and merges with a `bins`-key map-side-combined
    * sum — per-partition traffic is ≤ `bins` rows no matter the corpus
    * size. Same bin rule as the per-image kernel (floor into
    * (mx−mn)/bins, top clamp). */
  def corpusHistogram(imagesWithBytes: DataFrame, nb: Int, band: Int,
                      bins: Int): DataFrame = {
    val bounds = bandStats(imagesWithBytes, nb)
      .filter(col("band") === band)
      .agg(min("vmin").cast("double").as("mn"),
        max("vmax").cast("double").as("mx"))
    val histU = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                     nbb: Int, bd: Int, bn: Int, mn: Double, mx: Double) => {
      val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nbb), fmt)(bd)
      Pixels.histogramIn(p, bn, mn, mx).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq
    })
    imagesWithBytes.crossJoin(broadcast(bounds))
      .withColumn("hb", explode(histU(col("bytes"),
        col("w").cast("int"), col("h").cast("int"), col("fmt"),
        lit(nb), lit(band), lit(bins), col("mn"), col("mx"))))
      .groupBy(col("hb._1").as("bin"))
      .agg(sum("hb._2").as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** Corpus percentile from the merged histogram (collects ≤ `bins`
    * rows + the 1-row bounds): bit-identical to running the per-image
    * interpolation kernel over the concatenated pixels, because the
    * merged common-bin histogram IS that array's histogram and the
    * walk is the shared [[Pixels.percentileFromHist]]. */
  def corpusPercentile(imagesWithBytes: DataFrame, nb: Int, band: Int,
                       pct: Double, bins: Int = 100): Double = {
    val Array(mnR) = bandStats(imagesWithBytes, nb)
      .filter(col("band") === band)
      .agg(min("vmin").cast("double").as("mn"),
        max("vmax").cast("double").as("mx"),
        sum("cnt").as("count")).collect()
    val (mn, mx, count) =
      (mnR.getDouble(0), mnR.getDouble(1), mnR.getLong(2))
    if (count == 0) return Double.NaN
    if (mx == mn) return mn
    val hist = new Array[Long](bins)
    corpusHistogram(imagesWithBytes, nb, band, bins).collect()
      .foreach(r => hist(r.getLong(0).toInt) = r.getLong(1))
    Pixels.percentileFromHist(hist, count, mn, mx, pct)
  }

  /** Histogram kernel: fixed-width bins over the band's own [min,max]
    * (/root/reference/GIP/GeoRaster.cpp:141-176). Emits (bin, cnt)
    * rows; deterministic. */
  val histogramUdf = udf(
    (bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int,
     band: Int, bins: Int) => {
      val planes = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      Pixels.histogram(planes(band), bins).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq
    })

  /** Reference-parity percentile (100-bin interpolation,
    * /root/reference/GIP/GeoRaster.cpp:125-138). */
  val percentileUdf = udf(
    (bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int,
     band: Int, pct: Double) => {
      val planes = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      Pixels.percentile(planes(band), pct)
    })

  /** Laplacian (replicate boundary) of band 0, aggregated: NaN-poisoned
    * outputs excluded; values are exact integers for linear-ramp
    * content → (n_valid, lap_sum) both BIGINT. */
  val laplacianAgg = udf(
    (bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
      val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
      val lap = Pixels.laplacian(p, w, h)
      var n = 0L; var s = 0.0; var i = 0
      while (i < lap.length) {
        if (!lap(i).isNaN) { n += 1; s += lap(i) }
        i += 1
      }
      (n, s.toLong)
    })

  /** 3×3 box convolve_nodata of band 0 (reference-exact semantics),
    * aggregated as (n_valid, Σ floor(v·1e6)). */
  val convolveBoxAgg = udf(
    (bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
      val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
      Pixels.validFloorSum(
        Pixels.convolveNodata(p, w, h, Array.fill(9)(1.0), 3, 3), 1e6)
    })

  private def ceilDiv(a: Long, b: Long): Long = Math.floorDiv(a + b - 1, b)

  /** Shared zonal kernel: (n, Σv, min, max) over valid pixels in the
    * clamped window [xLo,xHi)×[yLo,yHi) that pass `inZone`. The single
    * accumulation loop both zonal variants share — validity/sentinel
    * rules live here once. */
  private def accumWindow(plane: Array[Double], w: Int,
                          xLo: Int, xHi: Int, yLo: Int, yHi: Int,
                          inZone: (Int, Int) => Boolean)
      : (Long, Long, Long, Long) = {
    var n = 0L; var s = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var y = yLo
    while (y < yHi) {
      var x = xLo
      while (x < xHi) {
        if (inZone(x, y)) {
          val v = plane(y * w + x)
          if (!v.isNaN) {
            val vi = v.toLong
            n += 1; s += vi
            if (vi < mn) mn = vi
            if (vi > mx) mx = vi
          }
        }
        x += 1
      }
      y += 1
    }
    (n, s, if (n == 0) 0L else mn, if (n == 0) 0L else mx)
  }

  /** Shared per-fid rollup over the per-pair `z` summaries. */
  private def zonalRollup(pairs: DataFrame): DataFrame =
    pairs.where(col("z._1") > 0)
      .groupBy(col("fid"))
      .agg(countDistinct(col("image_id")).as("n_imgs"),
           sum(col("z._1")).as("n_px"),
           sum(col("z._2")).as("vsum"),
           min(col("z._3")).as("vmin"),
           max(col("z._4")).as("vmax"))

  /** ZONAL statistics: per-polygon aggregates of the pixels whose
    * CENTERS fall inside the polygon rect — the reference's
    * extract-by-vector pattern (GeoImage.extract + feature mask,
    * /root/reference/GIP/GeoImage.cpp:331-363) as a distributed join:
    * covering-cell spatial join (images × polygons), per-pair windowed
    * pixel kernel (decode once, iterate ONLY the clamped intersection
    * window — never the whole image), then an ordinary groupBy(fid)
    * rollup. Pixel (x,y) center = (x0m + resM·x + resM/2,
    * y1m − resM·y − resM/2) (north-up, row 0 top); inclusion is
    * half-open [p0, p1) in both axes, mirrored exactly by the oracle.
    *
    * Scale: the join is the engine's equi-cell join (broadcast or
    * shuffled), the kernel is per-pair with window-bounded cost, and
    * the rollup is a map-side-combined hash aggregate on fid — no
    * driver involvement, no all-pixels shuffle (only the 4-field
    * per-pair summary moves).
    *
    * `broadcastPolys = false` is [[SpatialJoin.joinRects]]'s: it drops
    * the broadcast hint and takes the shuffled bucket join, but at the
    * session's `spark.sql.autoBroadcastJoinThreshold` Spark or AQE may
    * still broadcast the smaller side (the polygon bucket table). */
  def zonalStats(imagesWithBytes: DataFrame, polys: DataFrame, nb: Int,
                 band: Int = 0, resM: Long = 4L,
                 broadcastPolys: Boolean = true): DataFrame = {
    val joined = SpatialJoin.joinRects(imagesWithBytes, polys,
      broadcastPolys = broadcastPolys)
    // decodeMemo keyed on k: an image joined to P polygons decodes once
    // per contiguous run of its join rows, not P times (see Codec)
    val zs = udf((img: org.apache.spark.sql.Row,
                  px0: Long, py0: Long, px1: Long, py1: Long) => {
      val k = img.getLong(0)
      val bytes = img.getAs[Array[Byte]](1)
      val w = img.getInt(2); val h = img.getInt(3)
      val fmt = img.getString(4)
      val x0m = img.getLong(5); val y1m = img.getLong(6)
      val plane = Codec.decodeMemo(k, bytes, w, h,
        Codec.bandsStored(fmt, nb), fmt)(band)
      val half = resM / 2
      // cx = x0m + resM·x + half ∈ [px0, px1)
      val xLo = math.max(0L, ceilDiv(px0 - x0m - half, resM)).toInt
      val xHi = math.min(w.toLong, ceilDiv(px1 - x0m - half, resM)).toInt
      // cy = y1m − resM·y − half ∈ [py0, py1)
      val yLo = math.max(0L, Math.floorDiv(y1m - half - py1, resM) + 1).toInt
      val yHi = math.min(h.toLong, Math.floorDiv(y1m - half - py0, resM) + 1).toInt
      accumWindow(plane, w, xLo, xHi, yLo, yHi, (_, _) => true)
    })
    zonalRollup(joined
      .withColumn("z", zs(
        struct(col("k"), col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("x0m"), col("y1m")),
        col("px0m"), col("py0m"), col("px1m"), col("py1m"))))
  }

  /** Zonal HISTOGRAM of quantized pixel values — the categorical-
    * raster zonal family ([[zonalStats]] covers the continuous one):
    * same covering-cell join + clamped intersection window + decode
    * memo, but the kernel emits the ≤⌈range/quant⌉-entry histogram of
    * q = value div `quant` per (fid, image) pair, which the caller
    * rolls up by fid. Majority (mode), minority, and diversity are
    * then one tiny aggregate over ≤ bins rows per zone — the shuffle
    * carries histograms, never pixels. Returns (fid, q, n_px). */
  def zonalHist(imagesWithBytes: DataFrame, polys: DataFrame, nb: Int,
                quant: Long, band: Int = 0, resM: Long = 4L): DataFrame = {
    val joined = SpatialJoin.joinRects(imagesWithBytes, polys)
    val zs = udf((img: org.apache.spark.sql.Row,
                  px0: Long, py0: Long, px1: Long, py1: Long) => {
      val k = img.getLong(0)
      val bytes = img.getAs[Array[Byte]](1)
      val w = img.getInt(2); val h = img.getInt(3)
      val fmt = img.getString(4)
      val x0m = img.getLong(5); val y1m = img.getLong(6)
      val plane = Codec.decodeMemo(k, bytes, w, h,
        Codec.bandsStored(fmt, nb), fmt)(band)
      val half = resM / 2
      val xLo = math.max(0L, ceilDiv(px0 - x0m - half, resM)).toInt
      val xHi = math.min(w.toLong, ceilDiv(px1 - x0m - half, resM)).toInt
      val yLo = math.max(0L, Math.floorDiv(y1m - half - py1, resM) + 1).toInt
      val yHi = math.min(h.toLong, Math.floorDiv(y1m - half - py0, resM) + 1).toInt
      val acc = scala.collection.mutable.HashMap[Long, Long]()
      var y = yLo
      while (y < yHi) {
        var x = xLo
        while (x < xHi) {
          val v = plane(y * w + x)
          if (!v.isNaN) {
            val q = Math.floorDiv(v.toLong, quant)
            acc(q) = acc.getOrElse(q, 0L) + 1L
          }
          x += 1
        }
        y += 1
      }
      acc.toSeq.map { case (q, c) => (q, c) }
    })
    joined
      .select(col("fid"), explode(zs(
        struct(col("k"), col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("x0m"), col("y1m")),
        col("px0m"), col("py0m"), col("px1m"), col("py1m"))).as("t"))
      .groupBy(col("fid"), col("t._1").as("q"))
      .agg(sum(col("t._2")).as("n_px"))
  }

  /** Zonal MAJORITY/minority/diversity from a [[zonalHist]] result:
    * per zone the modal quantized value (ties → smallest q), the
    * rarest (ties → smallest q), the distinct-value count, and the
    * pixel total — the standard categorical zonal-statistics quartet.
    * Input ≤ bins rows per zone, so the argmax is a tiny struct
    * aggregate. */
  def zonalMajority(hist: DataFrame): DataFrame =
    hist.groupBy("fid").agg(
      (-max(struct(col("n_px"), (-col("q")).as("nq"))).getField("nq"))
        .as("majority_q"),
      min(struct(col("n_px"), col("q"))).getField("q").as("minority_q"),
      count(lit(1)).as("n_classes"),
      sum(col("n_px")).as("n_px"))

  /** Chi-square test of independence over a JOINT HISTOGRAM (the
    * band-association / change-strength statistic next to the raw
    * change matrix): input rows (image_id, b0, b3, n_px) — e.g. the
    * q_joint_hist output — give margins r_i, c_j and total n; the
    * statistic sums over the FULL margin cross product (absent cells
    * enter with o = 0):
    *
    *   contrib(i,j) = (n·o − r_i·c_j)²·1000 div (n·r_i·c_j)
    *
    * (the exact n-scaled (o−e)²/e with e = r·c/n, floored per cell —
    * a deterministic contract both engines state identically).
    * Returns (image_id, n_cells, dof, chi2_scaled). The cross product
    * is bins², built per image — never corpus-wide. */
  def chi2FromJointHist(jh: DataFrame): DataFrame = {
    val r = jh.groupBy("image_id", "b0").agg(sum("n_px").as("rc"))
    val c = jh.groupBy("image_id", "b3").agg(sum("n_px").as("cc"))
    val n = jh.groupBy("image_id").agg(sum("n_px").as("n"))
    val d2 = (col("n") * col("o") - col("rc") * col("cc")) *
      (col("n") * col("o") - col("rc") * col("cc"))
    r.join(c, "image_id").join(n, "image_id")
      .join(jh.select(col("image_id"), col("b0"), col("b3"),
        col("n_px").as("o")), Seq("image_id", "b0", "b3"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("contrib", graft.ops.Tiling.idiv(d2 * 1000L,
        col("n") * col("rc") * col("cc")))
      .groupBy("image_id").agg(
        count(lit(1)).as("n_cells"),
        ((countDistinct("b0") - 1) * (countDistinct("b3") - 1)).as("dof"),
        sum("contrib").as("chi2_scaled"))
  }

  /** Arbitrary-polygon zonal stats: same join + windowed kernel as
    * [[zonalStats]], but the zone is the feature's WKT ring (degree
    * coords) — window-clamp to the ring's bbox, then ray-cast each
    * pixel center (Geom.pointInPolygon, the engine's PIP). The ring is
    * parsed ONCE per joined pair, not per pixel. Verified in ZonalSpec
    * against brute force on concave rings; the rect layer reduces to
    * [[zonalStats]] exactly. */
  def zonalStatsPoly(imagesWithBytes: DataFrame, polys: DataFrame, nb: Int,
                     band: Int = 0, resM: Long = 4L): DataFrame = {
    val joined = graft.ops.SpatialJoin.joinPolygons(imagesWithBytes, polys)
    val zs = udf((img: org.apache.spark.sql.Row, wkt: String) => {
      val k = img.getLong(0)
      val bytes = img.getAs[Array[Byte]](1)
      val w = img.getInt(2); val h = img.getInt(3)
      val fmt = img.getString(4)
      val x0m = img.getLong(5); val y1m = img.getLong(6)
      val plane = Codec.decodeMemo(k, bytes, w, h,
        Codec.bandsStored(fmt, nb), fmt)(band)
      val (rx, ry) = graft.core.Geom.parsePolygonWkt(wkt)
      // clamp window from the ring's own bbox (widened one pixel:
      // boundary centers are decided by the PIP test, not the clamp)
      val px0 = math.floor(rx.min * 1000).toLong
      val px1 = math.ceil(rx.max * 1000).toLong
      val py0 = math.floor(ry.min * 1000).toLong
      val py1 = math.ceil(ry.max * 1000).toLong
      val half = resM / 2
      val xLo = math.max(0L, ceilDiv(px0 - x0m - half, resM)).toInt
      val xHi = math.min(w.toLong, ceilDiv(px1 - x0m - half + resM - 1, resM)).toInt
      val yLo = math.max(0L, Math.floorDiv(y1m - half - py1, resM)).toInt
      val yHi = math.min(h.toLong, Math.floorDiv(y1m - half - py0, resM) + 2).toInt
      accumWindow(plane, w, xLo, xHi, yLo, yHi, (x, y) =>
        graft.core.Geom.pointInPolygon(
          (x0m + resM * x + half) / 1000.0,
          (y1m - resM * y - half) / 1000.0, rx, ry))
    })
    zonalRollup(joined
      .withColumn("z", zs(
        struct(col("k"), col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("x0m"), col("y1m")),
        col("geom_wkt"))))
  }

  /** Cross-band spectral statistics per pixel
    * (/root/reference/GIP/GeoImage.cpp:236-280), aggregated:
    * (n_valid_px, Σ floor(mean·1e6), Σ floor(stddev·1e6)). */
  val spectralAgg = udf(
    (bytes: Array[Byte], w: Int, h: Int, fmt: String, nb: Int) => {
      val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      val (mean, sd, cnt) = Pixels.spectralStats(cube)
      var n = 0L; var ms = 0L; var ss = 0L; var i = 0
      while (i < mean.length) {
        if (cnt(i) > 0) {
          n += 1
          ms += math.floor(mean(i) * 1e6).toLong
          if (!sd(i).isNaN) ss += math.floor(sd(i) * 1e6).toLong
        }
        i += 1
      }
      (n, ms, ss)
    })
}
