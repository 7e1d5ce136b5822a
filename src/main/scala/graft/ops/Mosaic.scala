package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CellGrid

/** Mosaic / cookie-cutter semantics
  * (/root/reference/GIP/GeoAlgorithms.cpp:225-286): a destination grid
  * over the union (or feature) extent; source images warp in
  * SEQUENTIALLY, so where coverage overlaps the LAST image in list
  * order contributes the pixel (valid pixels overwrite).
  *
  * Distributed form: the destination is a cell grid; each (cell,
  * image-covering-it) pair meets in an equi-join on the cell id, and
  * `max(k)` per cell implements the last-wins overlay — an aggregation
  * instead of sequential writes, which is the scale-correct rewrite
  * (no ordering dependency between executors).
  */
object Mosaic {

  /** Union extent + output grid size per image group. `images` needs
    * (gid, x0m, y0m, x1m, y1m); returns per-group mosaic extent and
    * ceil-divided grid size at `resM` mdeg. */
  def unionExtent(images: DataFrame, resM: Long): DataFrame =
    images.groupBy(col("gid"))
      .agg(min(col("x0m")).as("ux0"), min(col("y0m")).as("uy0"),
           max(col("x1m")).as("ux1"), max(col("y1m")).as("uy1"))
      .withColumn("out_w", Tiling.idiv(col("ux1") - col("ux0") + resM - 1, lit(resM)))
      .withColumn("out_h", Tiling.idiv(col("uy1") - col("uy0") + resM - 1, lit(resM)))

  /** Last-wins overlay assignment on a cell grid: for every res-`res`
    * cell covered by `polys` (the cookie), the winning image is the one
    * with the greatest key whose footprint contains the cell center.
    * Returns (fid, cix, ciy, win_k). */
  def overlayOrder(images: DataFrame, polys: DataFrame, res: Int): DataFrame = {
    val shift = CellGrid.Shift - res
    val size = 1L << shift
    val half = size / 2
    import SpatialJoin.{ImageBox, PolyBox, coverCells}
    // one packed `cell` key: the broadcast builds a LongHashedRelation
    val pCells = coverCells(polys, res, PolyBox)
      .withColumn("ccx", col("cix") * size - CellGrid.OffX + half)
      .withColumn("ccy", col("ciy") * size - CellGrid.OffY + half)
      .drop("cix", "ciy")
    val iCells = coverCells(images, res, ImageBox)
    iCells.join(broadcast(pCells), Seq("cell"))
      .where(col("x0m") <= col("ccx") && col("ccx") < col("x1m") &&
             col("y0m") <= col("ccy") && col("ccy") < col("y1m"))
      .groupBy(col("fid"), col("cix"), col("ciy"))
      .agg(max(col("k")).as("win_k"))
  }
}
