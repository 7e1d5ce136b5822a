package graft

import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions
import graft.index.CellGrid

class ExprSpec extends SparkSuite {

  test("graft_cell_pack (codegen) matches CellGrid and shift columns") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((-150000L, -60000L), (0L, 0L), (149999L, 59999L),
      (123456L, -54321L)).toDF("lon", "lat")
    val got = df.selectExpr("graft_cell_pack(lon, lat, 7) AS c")
      .collect().map(_.getLong(0))
    val want = df.collect().map { r =>
      val id = CellGrid.cellOf(7, r.getLong(0), r.getLong(1))
      CellGrid.ixOf(id) * CellGrid.IxMul + CellGrid.iyOf(id)
    }
    assert(got.sameElements(want))
  }

  test("graft_cell_cover matches CellGrid.cover") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((-1000L, -1000L, 9000L, 5000L)).toDF("x0", "y0", "x1", "y1")
    val got = df.selectExpr("graft_cell_cover(x0, y0, x1, y1, 10) AS c")
      .collect()(0).getSeq[Long](0)
    val want = CellGrid.cover(10, graft.core.Geom.BBoxI(-1000, -1000, 9000, 5000))
      .map(id => CellGrid.ixOf(id) * CellGrid.IxMul + CellGrid.iyOf(id)).toSeq
    assert(got == want)
  }

  test("graft_rect_poly agrees with the Scala predicate") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    val df = Seq(
      (1000L, 1000L, 2000L, 2000L),      // inside
      (-5000L, -5000L, -1000L, -1000L),  // outside
      (9000L, 9000L, 15000L, 15000L))    // straddles
      .toDF("x0", "y0", "x1", "y1")
      .withColumn("wkt", lit(wkt))
    val got = df.selectExpr("graft_rect_poly(x0, y0, x1, y1, wkt) AS b")
      .collect().map(_.getBoolean(0))
    assert(got.sameElements(Array(true, false, true)))
  }
}
