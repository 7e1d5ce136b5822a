package perfbench

import graft.core.Codec
import graft.gen.Synth
import graft.index.CellGrid
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded benchmark inputs. Every value derives from the image key `k`
  * through the engine's own Synth formulas; the seed only chooses which
  * keys, which hot cell and which sample rows. */
object Inputs {

  /** A key offset in [1, 10^9) derived from the seed and a per-use tag. */
  def keyOffset(seed: Long, tag: Long): Long =
    1L + java.lang.Math.floorMod(new java.util.Random(seed * 1000003L + tag).nextLong(), 1000000L) * 997L

  /** `Synth.imagesRange` over the keys [off, off + n) instead of [0, n):
    * the same columns and formulas ([[mirrorHolds]] checks that). */
  def images(spark: SparkSession, off: Long, n: Long, parts: Int): DataFrame = {
    val k = col("id")
    spark.range(off, off + n, 1, parts).select(
      k.as("k"),
      concat(lit("img-"), k.cast("string")).as("image_id"),
      (lit(16) + (k * 13) % 240).cast("long").as("w"),
      (lit(16) + (k * 29) % 240).cast("long").as("h"),
      element_at(array(Synth.Formats.map(lit): _*), ((k % 6) + 1).cast("int")).as("fmt"),
      (k % 5).as("nw"),
      ((k * 7919) % 300000 - 150000).as("x0m"),
      ((k * 104729) % 120000 - 60000).as("y0m")
    ).withColumn("x1m", col("x0m") + col("w") * Synth.ResM)
     .withColumn("y1m", col("y0m") + col("h") * Synth.ResM)
  }

  /** True when [[images]] at offset 0 equals `Synth.imagesRange` row for row. */
  def mirrorHolds(spark: SparkSession): Boolean = {
    val a = images(spark, 0, 4096, 2)
    val b = Synth.imagesRange(spark, 4096, 2)
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  }

  /** Moves a seeded `permille` share of the images into the res-`res` cell
    * with origin (x0m, y0m); moved images keep their size and fit inside
    * the cell. */
  def withHotCell(images: DataFrame, seed: Long, permille: Int, res: Int, x0m: Long, y0m: Long): DataFrame = {
    val room = CellGrid.cellSize(res) - 256L * Synth.ResM // largest image side is 255 px
    val hot = isHot(seed, permille)
    images
      .withColumn("x0m", when(hot, lit(x0m) + pmod(col("k") * 7919, lit(room))).otherwise(col("x0m")))
      .withColumn("y0m", when(hot, lit(y0m) + pmod(col("k") * 104729, lit(room))).otherwise(col("y0m")))
      .withColumn("x1m", col("x0m") + col("w") * Synth.ResM)
      .withColumn("y1m", col("y0m") + col("h") * Synth.ResM)
  }

  def isHot(seed: Long, permille: Int): Column =
    pmod(xxhash64(col("k"), lit(seed)), lit(1000L)) < permille

  /** Seeded key subsample: about one key in `every`. */
  def sampled(seed: Long, every: Int): Column =
    pmod(xxhash64(col("k"), lit(seed + 17L)), lit(every.toLong)) === 0

  /** Caption of image k, as `Synth.images` derives it. */
  def caption(k: Long): String =
    s"a ${Synth.Adjs((k % 16).toInt)} photo of ${Synth.Nouns(((k * 7) % 16).toInt)}"

  /** Image + caption rows in the full input_hint schema (image_id, bytes,
    * w, h, fmt, caption, phash), plus the key k, for keys [off, off + n). */
  def payload(spark: SparkSession, off: Long, n: Long, parts: Int): DataFrame = {
    val enc = udf((k: Long) => Synth.encodeImage(k))
    val ph = udf((k: Long) => Codec.aHash(Synth.planes(k)(0), Synth.wOf(k), Synth.hOf(k)))
    val k = col("k")
    images(spark, off, n, parts)
      .select(k, col("image_id"), col("w"), col("h"), col("fmt"),
        concat(lit("a "),
          element_at(array(Synth.Adjs.map(lit): _*), ((k % 16) + 1).cast("int")),
          lit(" photo of "),
          element_at(array(Synth.Nouns.map(lit): _*), (((k * 7) % 16) + 1).cast("int"))
        ).as("caption"))
      .withColumn("bytes", enc(k))
      .withColumn("phash", ph(k))
  }
}
