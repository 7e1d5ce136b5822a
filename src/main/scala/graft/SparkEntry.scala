package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.gates._
import graft.gen.Synth
import graft.ops.SpatialJoin

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` mirror)
  * per implemented operator from SURVEY.md §2. Each gate is one [[Gate]]
  * in its family's file under `graft/gates/`; the two maps below are
  * views of those lists. The geospatial input tables are derived
  * DETERMINISTICALLY (integer arithmetic) from the driver's parquet
  * (`part`→images, `nation`→polygons; see [[graft.gen.Synth]]), so the
  * DuckDB oracle re-derives identical tables and every operator gets a
  * value-exact check.
  */
object SparkEntry {

  /** Flagship: the spatial join at sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    SpatialJoin.joinRects(
      Synth.images(spark, "/root/testdata/sf0.001"),
      Synth.polygons(spark, "/root/testdata/sf0.001"), Synth.JoinRes)
      .select(col("image_id"), col("fid"))

  private val gates: Seq[Gate] = Seq(AudioGates.all, GraphGates.all, ImageGates.all,
    RasterGates.all, RelationalGates.all, SpatialGates.all, TableGates.all,
    TerrainGates.all, TextGates.all, VecGates.all).flatten

  require(gates.map(_.name).distinct.size == gates.size,
    "duplicate gate names: " +
      gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }.mkString(","))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  val oracleSql: Map[String, String] =
    gates.flatMap(g => g.oracleSql.map(g.name -> _)).toMap
}
