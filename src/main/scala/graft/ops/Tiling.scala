package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Codec, Pixels}

/** Deterministic image→tile assignment map — the Spark re-creation of
  * the reference's chunk iterator (/root/reference/GIP/GeoResource.cpp:
  * 195-217; contract tested in
  * /root/reference/test/test_GeoResource.py:110-125):
  *   - tiles are FULL-WIDTH row bands;
  *   - rows per tile = floor(chunkBytes / 8 / width)  (8 = sizeof
  *     double, the reference's in-memory pixel size), capped at h;
  *   - tile count = ceil(h / rows); heights equal except the last;
  *   - contiguous: tile i starts at y0 = i*rows;
  *   - `padding` pads each tile and clips at image bounds
  *     (/root/reference/GIP/gip/GeoRaster.h:456-458).
  *
  * Implemented as pure Column arithmetic + `explode(sequence(...))` —
  * whole-stage-codegen'd, no UDF, no shuffle: at 10^12 rows this is a
  * map-only stage.
  */
object Tiling {

  /** Integer floor-division on non-negative long columns (Spark's `/`
    * is double division; floor+cast is exact below 2^53). */
  def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")

  /** Expand an images DF (needs image_id, w, h) into tiles. */
  def tiles(images: DataFrame, chunkBytes: Long, padding: Int = 0): DataFrame = {
    val rows = greatest(lit(1L), idiv(lit(chunkBytes / 8L), images("w")))
    tilesByRows(images, rows, padding)
  }

  /** Explicit-numchunks variant (reference: numchunks ⇒ rows =
    * ysize/numchunks, /root/reference/GIP/GeoResource.cpp:205-208). */
  def tilesNum(images: DataFrame, numchunks: Int, padding: Int = 0): DataFrame =
    tilesByRows(images, greatest(lit(1L), idiv(images("h"), lit(numchunks.toLong))), padding)

  /** read(chunk): materialize per-tile PADDED band-0 pixel slices
    * (/root/reference/GIP/gip/GeoRaster.h:452-530 window read with
    * pad-and-clip). One row per tile, slice rows [pty0, pty1). */
  def tileSlices(imagesWithBytes: DataFrame, chunkBytes: Long,
                 padding: Int = 0, nb: Int = graft.gen.Synth.NumBands): DataFrame = {
    val slice = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                     pty0: Long, pty1: Long) => {
      val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
      java.util.Arrays.copyOfRange(p, (pty0 * w).toInt, (pty1 * w).toInt)
    })
    tiles(imagesWithBytes, chunkBytes, padding)
      .withColumn("slice", slice(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt"), col("pty0"), col("pty1")))
  }

  /** write(chunk) + re-assembly: de-pad each slice (keep rows
    * [ty0, ty1) of the padded window, the reference's write-side crop,
    * GeoRaster.h:533-577) and stitch the full plane back per image —
    * the inverse of the tiling operator (groupBy image + ordered fill).
    * Returns (image_id, n_valid, vsum) of the stitched plane; a tiled
    * pipeline can hence produce whole images again. */
  def stitch(slices: DataFrame): DataFrame = {
    val assemble = udf((w: Int, h: Int,
                        frags: Seq[org.apache.spark.sql.Row]) => {
      val out = Array.fill(w * h)(Double.NaN)
      frags.foreach { r =>
        val ty0 = r.getLong(0); val ty1 = r.getLong(1); val pty0 = r.getLong(2)
        val s = r.getSeq[Double](3)
        // de-pad: rows [ty0, ty1) live at offset (ty0-pty0)*w in the slice
        var y = ty0
        while (y < ty1) {
          var x = 0
          while (x < w) {
            out((y * w + x).toInt) = s(((y - pty0) * w + x).toInt)
            x += 1
          }
          y += 1
        }
      }
      Pixels.validSum(out)
    })
    slices
      .groupBy(col("image_id"), col("w"), col("h"))
      .agg(collect_list(struct(col("ty0"), col("ty1"), col("pty0"),
        col("slice"))).as("frags"))
      .withColumn("m", assemble(col("w").cast("int"), col("h").cast("int"),
        col("frags")))
      .select(col("image_id"), col("m._1").as("n_valid"), col("m._2").as("vsum"))
  }

  private def tilesByRows(images: DataFrame, rowsExpr: Column, padding: Int): DataFrame = {
    images
      .withColumn("rows_per_tile", least(rowsExpr, col("h")))
      .withColumn("n_tiles",
        idiv(col("h") + col("rows_per_tile") - 1, col("rows_per_tile")))
      .withColumn("tile_idx", explode(sequence(lit(0L), col("n_tiles") - 1)))
      .withColumn("ty0", col("tile_idx") * col("rows_per_tile"))
      .withColumn("ty1", least(col("h"), (col("tile_idx") + 1) * col("rows_per_tile")))
      .withColumn("th", col("ty1") - col("ty0"))
      .withColumn("pty0", greatest(lit(0L), col("ty0") - padding))
      .withColumn("pty1", least(col("h"), col("ty1") + padding))
  }
}
