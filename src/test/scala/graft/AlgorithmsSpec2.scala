package graft

import org.apache.spark.sql.functions._
import graft.ops.{Algorithms, Tiling}
import graft.gen.Synth

/** Round-2 operator specs: farthest-point seeding, pixel-spectra
  * k-means determinism, Brovey two-table exactness, tile stitch. */
class AlgorithmsSpec2 extends SparkSuite {

  test("farthestPointSeeds: greedy max-min property (GeoAlgorithms.h:87-117)") {
    // 1-D sample: clusters at 0, 100, 50, 10 — greedy from index 0
    // must pick 0 → 100 → 50 (max-min), never 10 before 50
    val sample = Array(Array(0.0), Array(1.0), Array(100.0), Array(99.0),
      Array(50.0), Array(10.0))
    val seeds = Algorithms.farthestPointSeeds(sample, 3).map(_(0))
    assert(seeds(0) == 0.0)
    assert(seeds(1) == 100.0)
    assert(seeds(2) == 50.0)
    // deterministic: same input, same seeds
    assert(Algorithms.farthestPointSeeds(sample, 3).map(_(0)).toSeq ==
      seeds.toSeq)
    // k capped at sample size
    assert(Algorithms.farthestPointSeeds(sample, 99).length == sample.length)
  }

  test("kmeansPixels: deterministic and exhaustive over sampled spectra") {
    val im = Synth.imagesWithBytes(spark, "/root/testdata/sf0.001",
      _.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2)))
    val a = Algorithms.kmeansPixels(spark, im, 3, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val b = Algorithms.kmeansPixels(spark, im, 3, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "kmeansPixels must be deterministic")
    assert(a.nonEmpty)
    val clusters = a.map(_._2)
    assert(clusters.forall(c => c >= 0 && c < 3))
  }

  test("kmeansEmbeddings: empty cluster keeps its center slot (no index shift)") {
    import spark.implicits._
    // seeds = k lowest vec_ids. vecs 0 and 1 are IDENTICAL, so cluster
    // 1 receives zero points from the first assignment on (distance
    // ties go to the lowest cluster id). With positional re-indexing
    // the collected centers array would shrink to [c0, c2] and every
    // far point would silently migrate to "cluster 1"; the id-keyed
    // update must keep them in cluster 2.
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(100.0f, 100.0f)),
      (3L, Array(101.0f, 100.0f)),
      (4L, Array(0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Algorithms.kmeansEmbeddings(spark, emb, 3, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2) == 2L && out(3) == 2L,
      s"far points must stay in cluster 2 across empty-cluster rounds: $out")
    // the carried-forward center (0,0) legitimately RE-CAPTURES the
    // coincident points next round (it is exactly their position) while
    // vec 4 stays with the migrated cluster-0 centroid — the full
    // deterministic fixpoint:
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 0L),
      s"deterministic assignment drifted: $out")
  }

  test("pansharpBrovey: constant planes give the exact closed-form output") {
    val w = 8; val h = 8; val pw = 16; val ph = 16
    // constant MS bands: b=1, g=2, r=3, nir=4; constant pan = 10
    val cube = Array(
      Array.fill(w * h)(1.0), Array.fill(w * h)(2.0),
      Array.fill(w * h)(3.0), Array.fill(w * h)(4.0),
      Array.fill(w * h)(5.0), Array.fill(w * h)(6.0))
    val pan = Array.fill(pw * ph)(10.0)
    val weights = Array(0.25, 0.25, 0.25, 0.25)
    val out = Algorithms.pansharpBrovey(cube, w, h, pan, pw, ph, weights)
    // dnf = (10 − 0.25·4) / (0.25·3 + 0.25·2 + 0.25·1) = 9 / 1.5 = 6
    assert(out(0).forall(_ == 3.0 * 6))
    assert(out(1).forall(_ == 2.0 * 6))
    assert(out(2).forall(_ == 1.0 * 6))
  }

  test("tileSlices + stitch: padded round trip reproduces the plane sums") {
    val im = Synth.imagesWithBytes(spark, "/root/testdata/sf0.001",
      _.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2)))
    for (pad <- Seq(0, 3)) {
      val got = Tiling.stitch(Tiling.tileSlices(im, chunkBytes = 2048,
          padding = pad))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // direct decode sums
      val direct = im.collect().map { r =>
        val k = r.getAs[Long]("k")
        val p = Synth.planes(k)(0)
        val n = p.count(!_.isNaN)
        val s = p.filterNot(_.isNaN).map(_.toLong).sum
        (r.getAs[String]("image_id"), (n.toLong, s))
      }.toMap
      assert(got.keySet == direct.keySet)
      got.foreach { case (id, (n, s)) =>
        assert((n, s) == direct(id), s"pad=$pad image $id")
      }
    }
  }

  test("equalizeAgg: hand-checked discrete CDF mapping; constant band → 0") {
    import spark.implicits._
    import graft.core.Codec
    // band 2 = [10,10,10,20,20,30,40,40] on a 2x4 plane: n=8, cmin=3,
    // v' = (cdf-3)*255/5 → {10:0, 20:102, 30:153, 40:255}
    val vals = Array(10.0, 10.0, 10.0, 20.0, 20.0, 30.0, 40.0, 40.0)
    val planes = Array.tabulate(6)(b =>
      if (b == 2) vals else Array.fill(8)(1.0))
    val bytes = Codec.encode(planes, 2, 4, "raw-i16le")
    val flat = Seq((1L, bytes)).toDF("k", "bytes")
      .withColumn("e", Algorithms.equalizeAgg(col("bytes"), lit(2),
        lit(4), lit("raw-i16le"), lit(6), lit(2)))
      .select("e._1", "e._2", "e._3", "e._4", "e._5")
      .collect()(0)
    assert((flat.getLong(0), flat.getLong(1), flat.getLong(2),
      flat.getLong(3), flat.getLong(4)) == ((8L, 867L, 0L, 255L, 281112L)))
    // constant band: n == cmin → every equalized value is 0
    val cbytes = Codec.encode(Array.tabulate(6)(_ => Array.fill(8)(7.0)),
      2, 4, "raw-i16le")
    val c = Seq((1L, cbytes)).toDF("k", "bytes")
      .withColumn("e", Algorithms.equalizeAgg(col("bytes"), lit(2),
        lit(4), lit("raw-i16le"), lit(6), lit(2)))
      .select("e._2", "e._4").collect()(0)
    assert(c.getLong(0) == 0L && c.getLong(1) == 0L)
  }
}
