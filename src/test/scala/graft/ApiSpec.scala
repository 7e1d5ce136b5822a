package graft

import org.apache.spark.sql.functions._
import graft.api.GippySpark
import graft.gen.Synth

/** Typed user-surface smoke: the round-4 API additions (mosaicInto,
  * nearestNeighbors) produce the same results as the operators they
  * wrap — the "a gippy user could switch" contract. */
class ApiSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("mosaicInto == Warp.warpInto (all bands)") {
    val g = new GippySpark(spark)
    val small = (df: org.apache.spark.sql.DataFrame) =>
      df.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2))
    val im = Synth.imagesWithBytes(spark, dir, small)
    val grids = small(Synth.images(spark, dir))
      .select(col("image_id").as("gid"), col("x0m").as("gx0"),
        col("y0m").as("gy0"), col("x1m").as("gx1"), col("y1m").as("gy1"))
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("gid", "band")
        .agg(sum("n_valid").as("n"), sum("vsum").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
    val api = sums(g.mosaicInto(im, grids))
    val direct = sums(graft.ops.Warp.warpInto(im, grids,
      nbBands = Synth.NumBands))
    assert(api.nonEmpty && api === direct)
    assert(api.keys.map(_._2).toSet == (0L until 6L).toSet)
  }

  test("nearestNeighbors: exact == cosineTopK; ivf/lsh return k rows per query") {
    val g = new GippySpark(spark)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val qf = col("vec_id") < 3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(g.nearestNeighbors(emb, qf, 10, "exact"))
    assert(exact == rows(graft.vec.VectorOps.cosineTopK(emb, qf, 10)))
    val ivf = rows(g.nearestNeighbors(emb, qf, 10, "ivf"))
    assert(ivf.groupBy(_._1).forall(_._2.size == 10))
    val lsh = rows(g.nearestNeighbors(emb, qf, 10, "lsh"))
    assert(lsh.groupBy(_._1).forall(_._2.size == 10))
    intercept[IllegalArgumentException](g.nearestNeighbors(emb, qf, 10, "bogus"))
  }
}
