package graft

import org.apache.spark.sql.functions._
import graft.sketch.Hll

class SketchSpec extends SparkSuite {

  private def ids(from: Long, to: Long) =
    spark.range(from, to).select(concat(lit("v-"), col("id")).as("v"))

  test("hll: merge of partial sketches equals the sketch of the union") {
    val a = ids(0, 4000)
    val b = ids(3000, 8000) // overlapping — merge must be idempotent
    val direct = Hll.sketch(a.union(b), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val merged = Hll.merge(Hll.sketch(a, col("v")), Hll.sketch(b, col("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == direct)
  }

  test("hll: estimate within theoretical error at 100k distinct") {
    val est = Hll.estimate(Hll.sketch(ids(0, 100000), col("v")))
    // sigma = 1.04/sqrt(256) = 6.5%; deterministic input, observed
    // error must sit well inside 3 sigma
    assert(math.abs(est - 100000) / 100000.0 < 0.20, s"est=$est")
  }

  test("hll: linear-counting regime for small cardinalities") {
    val est = Hll.estimate(Hll.sketch(ids(0, 60), col("v")))
    assert(math.abs(est - 60) / 60.0 < 0.15, s"est=$est")
  }

  test("hll: duplicate-heavy input counts distinct, not rows") {
    val dup = spark.range(0, 50000)
      .select(concat(lit("v-"), pmod(col("id"), lit(100))).as("v"))
    val est = Hll.estimate(Hll.sketch(dup, col("v")))
    assert(math.abs(est - 100) / 100.0 < 0.15, s"est=$est")
  }
}
