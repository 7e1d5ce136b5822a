package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Skyline / median-MAD / PMI properties vs brute-force driver
  * references on random fixtures — the gates check these ops against
  * DuckDB on the synth tables; these specs pin the semantics on
  * adversarial shapes (ties, duplicates, even/odd counts, coincident
  * maxima) the synth draw may not hit. */
class RelationalSpec extends SparkSuite {

  private def skylineRef(pts: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    pts.filter { a =>
      !pts.exists(b => b._2 >= a._2 && b._3 >= a._3 &&
        (b._2 > a._2 || b._3 > a._3))
    }.toSet

  test("skyline2d matches the quadratic dominance filter") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 4) {
      val pts = (0 until 120).map(i =>
        (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(40).toLong))
      val got = Relational.skyline2d(pts.toDF("id", "d1", "d2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === skylineRef(pts), s"trial $trial")
    }
  }

  test("skyline2d keeps coincident maxima and single points") {
    import spark.implicits._
    // two identical undominated points: neither strictly dominates
    val dup = Seq((1L, 5L, 5L), (2L, 5L, 5L), (3L, 1L, 1L))
    val got = Relational.skyline2d(dup.toDF("id", "d1", "d2"))
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
    assert(Relational.skyline2d(Seq((9L, 3L, 4L)).toDF("id", "d1", "d2"))
      .count() === 1)
  }

  /** Driver reference: doubled median via sorted order statistics. */
  private def med2Ref(xs: Seq[Long]): Long = {
    val s = xs.sorted
    s((s.size - 1) / 2) + s(s.size / 2)
  }

  test("madOutliers matches the sorted-order-statistics reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // odd and even group sizes, heavy ties, one constant group
    val data =
      (0 until 101).map(_ => ("a", rnd.nextInt(10).toLong)) ++
      (0 until 100).map(_ => ("b", rnd.nextInt(1000).toLong)) ++
      (0 until 7).map(_ => ("c", 42L))
    val got = Relational.madOutliers(data.toDF("grp", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for ((g, xs) <- data.groupBy(_._1)) {
      val vs = xs.map(_._2)
      val med2 = med2Ref(vs)
      val devs = vs.map(x => math.abs(2 * x - med2))
      val mad4 = med2Ref(devs)
      val nout = devs.count(d => 2 * d > 3 * mad4).toLong
      assert(got(g) === ((vs.size.toLong, med2, mad4, nout)), s"group $g")
    }
    // constant group: MAD 0, every deviation 0, no outliers
    assert(got("c") === ((7L, 84L, 0L, 0L)))
  }

  test("pmiBigrams ranks by the exact scaled ratio") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y z q"),
      (2L, "x y k k k"),
      (3L, "k k z q z q")).toDF("doc_id", "text")
    val got = graft.text.TextOps.pmiBigrams(docs, 2, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    // brute force: tokens and bigrams across the 3 docs
    val toks = Seq("x y x y z q", "x y k k k", "k k z q z q")
      .map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (t, o) => t -> o.size }
    val n = toks.map(_.size).sum
    val big = toks.flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).map { case (p, o) => p -> o.size }
      .filter(_._2 >= 2)
    val want = big.map { case ((a, b), c12) =>
      (s"$a $b", c12.toLong,
        10000L * c12 * n / (uni(a).toLong * uni(b).toLong))
    }.toSeq.sortBy(t => (-t._3, t._1))
    assert(got.toSeq === want)
  }
}
