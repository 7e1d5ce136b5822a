package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Codec, Pixels}
import graft.gen.Synth

/** The reference's 15 spectral indices
  * (/root/reference/GIP/GeoAlgorithms.cpp:447-552) as per-row pixel
  * kernels over the decoded 6-band cube (blue, green, red, nir, swir1,
  * swir2). A pixel is nodata in the output when ANY input band used by
  * the product is nodata (the reference's nodata_mask of the product's
  * color list, GeoAlgorithms.cpp:546-547) or the formula's denominator
  * is zero (division yields non-finite).
  *
  * Each product reads only the bands it needs (`used_colors` pruning in
  * the reference = free column pruning here since decode is per-row and
  * band-sliced). Formulas are written in the exact double-op order that
  * the SQL oracle states them, so floor-scaled aggregates are
  * bit-reproducible.
  *
  * NOTE: the reference's msavi2 line mutates its temp in place
  * (GeoAlgorithms.cpp:531-532, a CImg aliasing bug); we implement the
  * standard MSAVI2 formula instead and document the divergence.
  */
object Indices {

  val All: Seq[String] = Seq("ndvi", "evi", "lswi", "ndsi", "ndwi", "bi",
    "satvi", "msavi2", "vari", "brgt", "ndti", "crc", "crcm", "isti", "sti")

  /** Bands used per product (reference color table,
    * GeoAlgorithms.cpp:457-473). Indexes into BandNames order. */
  val UsedBands: Map[String, Seq[Int]] = Map(
    "ndvi" -> Seq(3, 2), "evi" -> Seq(3, 2, 0), "lswi" -> Seq(3, 4),
    "ndsi" -> Seq(4, 1), "ndwi" -> Seq(1, 3), "bi" -> Seq(0, 3),
    "satvi" -> Seq(4, 2, 5), "msavi2" -> Seq(3, 2), "vari" -> Seq(2, 1, 0),
    "brgt" -> Seq(2, 1, 0, 3), "ndti" -> Seq(5, 4), "crc" -> Seq(4, 5, 0),
    "crcm" -> Seq(4, 5, 1), "isti" -> Seq(4, 5), "sti" -> Seq(4, 5))

  /** Index value from the six band samples; NaN = nodata out. */
  def value(prod: String, b: Double, g: Double, r: Double, n: Double,
            s1: Double, s2: Double): Double = {
    val v = prod match {
      case "ndvi"   => (n - r) / (n + r)
      case "evi"    => 2.5 * (n - r) / (n + 6 * r - 7.5 * b + 1)
      case "lswi"   => (n - s1) / (n + s1)
      case "ndsi"   => (g - s1) / (g + s1)
      case "ndwi"   => (g - n) / (g + n)
      case "bi"     => 0.5 * (b + n)
      case "satvi"  => 1.5 * (s1 - r) / (s1 + r + 0.5) - 0.5 * s2
      case "msavi2" => (2 * n + 1 - math.sqrt((2 * n + 1) * (2 * n + 1) - 8 * (n - r))) * 0.5
      case "vari"   => (g - r) / (g + r - b)
      case "brgt"   => 0.3 * b + 0.3 * r + 0.1 * n + 0.3 * g
      case "ndti"   => (s1 - s2) / (s1 + s2)
      case "crc"    => (s1 - b) / (s2 + b)
      case "crcm"   => (s1 - g) / (s2 + g)
      case "isti"   => s2 / s1
      case "sti"    => s1 / s2
      case other    => throw new IllegalArgumentException(other)
    }
    if (v.isInfinite) Double.NaN else v
  }

  /** Compute index planes for one image's decoded cube. */
  def planes(cube: Array[Array[Double]], products: Seq[String]): Array[Array[Double]] =
    products.map { prod =>
      val used = UsedBands(prod)
      val out = new Array[Double](cube(0).length)
      var i = 0
      while (i < out.length) {
        var anyNodata = false
        used.foreach(bi => if (cube(bi)(i).isNaN) anyNodata = true)
        out(i) =
          if (anyNodata) Double.NaN
          else value(prod, cube(0)(i), cube(1)(i), cube(2)(i),
                     cube(3)(i), cube(4)(i), cube(5)(i))
        i += 1
      }
      out
    }.toArray

  /** Quantize an index plane to the reference's output encoding:
    * int16, gain 1e-4, nodata -32768 (GeoAlgorithms.cpp:450-455). */
  def quantize(p: Array[Double]): Array[Short] =
    p.map { v =>
      if (v.isNaN) Short.MinValue
      else math.max(-32767, math.min(32767, math.rint(v * 10000.0))).toShort
    }

  /** Per-(image, product) exact aggregate: valid-pixel count + sum of
    * floor(v*1e6) — the SQL-checkable surface of the op. */
  def indexStats(imagesWithBytes: DataFrame, products: Seq[String], nb: Int): DataFrame = {
    val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      planes(cube, products).zip(products).map { case (p, prod) =>
        val (n, fs) = Pixels.validFloorSum(p, 1e6)
        (prod, n, fs)
      }.toSeq
    })
    imagesWithBytes
      .withColumn("ix", explode(agg(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt"))))
      .select(col("image_id"), col("ix._1").as("product"),
        col("ix._2").as("n_valid"), col("ix._3").as("fsum"))
  }

  /** Full NDVI-style transform for pipeline use: returns images with
    * the index planes re-encoded as raw-f32le payloads (bands =
    * products). */
  def indices(imagesWithBytes: DataFrame, products: Seq[String], nb: Int): DataFrame = {
    val tx = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      val cube = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)
      Codec.encode(planes(cube, products), w, h, "raw-f32le")
    })
    imagesWithBytes
      .withColumn("bytes", tx(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt")))
      .withColumn("fmt", lit("raw-f32le"))
  }
}
