package graft

import org.apache.spark.sql.functions._
import graft.core.Codec
import graft.gen.Synth
import graft.ops.Vision

/** Vision pack goldens: hand-computed 3×3/5×5 cases for the rank /
  * morphology / TPI kernels, an exact-match position check for NCC
  * template matching, and a step-edge Hough vote count. */
class VisionSpec extends SparkSuite {

  private def enc(z: Array[Double], w: Int, h: Int): Array[Byte] =
    Codec.encode(Array(z), w, h, "raw-i16le")

  private def one(
      agg: org.apache.spark.sql.expressions.UserDefinedFunction,
      z: Array[Double], w: Int, h: Int): org.apache.spark.sql.Row = {
    import spark.implicits._
    Seq((enc(z, w, h), w, h)).toDF("b", "w", "h")
      .select(agg(col("b"), col("w"), col("h")).as("r"))
      .collect()(0).getStruct(0)
  }

  test("medianAgg: 9-value rank golden") {
    // sorted window = 1..8,100 → median 5; center 100 changed
    val z = Array(5.0, 1, 8, 2, 100, 3, 7, 4, 6)
    val r = one(Vision.medianAgg, z, 3, 3)
    assert(r.getLong(0) == 1L)        // one interior pixel
    assert(r.getLong(1) == 5L)        // Σ med
    assert(r.getLong(2) == 1L)        // changed
    assert(r.getLong(3) == 5L * (1 + 131 * 1)) // checksum
  }

  test("morphGradAgg: max-min golden") {
    val z = Array(5.0, 1, 8, 2, 100, 3, 7, 4, 6)
    val r = one(Vision.morphGradAgg, z, 3, 3)
    assert(r.getLong(0) == 1L && r.getLong(1) == 99L && r.getLong(2) == 99L)
    assert(r.getLong(3) == 99L * 132)
  }

  test("topHatAgg: bright spike over flat background") {
    // 5×5 constant 10 with center 50: opening erases the spike,
    // top-hat at (2,2) = 50 − 10 = 40
    val z = Array.fill(25)(10.0); z(12) = 50
    val r = one(Vision.topHatAgg, z, 5, 5)
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 40L)
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) == 40L * (2 + 131 * 2))
  }

  test("tpiAgg: ridge center, integer TPI/TRI") {
    val z = Array(1.0, 2, 3, 4, 10, 6, 7, 8, 9)
    val r = one(Vision.tpiAgg, z, 3, 3)
    // tpi8 = 8·10 − 40 = 40 (ridge); tri = Σ|10−v| = 40
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 40L && r.getLong(4) == 40L)
  }

  test("templateMatchAgg: exact patch found at its own origin") {
    // image IS the k=911 DEM surface → window (0,0) equals the
    // template exactly (corr = 1, the NCC maximum); scan order breaks
    // any tie toward (0,0)
    val w = 12; val h = 12
    val z = Array.tabulate(w * h)(i =>
      Synth.demValue(Vision.TemplateKey, i % w, i / w).toDouble)
    val r = one(Vision.templateMatchAgg, z, w, h)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    // for Z == T the score is floor(√den · 10⁶) with den the
    // template's own 64·ΣT²−(ΣT)²
    val t = Array.tabulate(64)(i =>
      Synth.demValue(Vision.TemplateKey, i % 8, i / 8))
    val st = t.sum; val stt = t.map(v => v * v).sum
    val den = 64L * stt - st * st
    assert(r.getLong(2) ==
      math.floor(math.sqrt(den.toDouble) * 1e6).toLong)
    assert(r.getLong(3) > 0L)
  }

  test("houghAgg: vertical step edge votes ρ=x and ρ=y bins") {
    // 8×8, left half 0 / right half 1000: edge pixels are the two
    // interior columns straddling the step (x ∈ {3,4}, y ∈ 1..6)
    val w = 8; val h = 8
    val z = Array.tabulate(w * h)(i => if (i % w < 4) 0.0 else 1000.0)
    import spark.implicits._
    val rows = Seq((enc(z, w, h), w, h)).toDF("b", "w", "h")
      .select(explode(Vision.houghAgg(col("b"), col("w"), col("h")))
        .as("r"))
      .select(col("r._1").as("th"), col("r._2").as("bin"),
        col("r._3").as("votes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 4) // every θ has edge votes here
    val m = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(m(0L) == ((0L, 12L))) // ρ=x: all 12 edge pixels in bin 0
    assert(m(2L) == ((0L, 12L))) // ρ=y: same
  }

  test("glcmAgg: two-level checker row pairs") {
    // levels 0,1 / 1,0 → c(0,1)=c(1,0)=1: contrast 2, dissim 2, energy 2
    val z = Array(100.0, 400, 400, 100)
    val r = one(Vision.glcmAgg, z, 2, 2)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)
  }

  test("momentsAgg: 1×2 golden") {
    // z=[1,3]: m00=4, m10=3, mxx=3 → mu20 = 4·3−9 = 3; mu02=mu11=0;
    // code = (0+1)·3 + (1+1) = 5
    val z = Array(1.0, 3)
    val r = one(Vision.momentsAgg, z, 2, 1)
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 5L)
  }

  test("otsuAgg: all thresholds tie → lowest t wins") {
    // levels {0,0,0,31}: every t∈[0,30] splits 3|1 with identical BCV
    val z = Array(0.0, 0, 0, 1999)
    val r = one(Vision.otsuAgg, z, 4, 1)
    assert(r.getLong(0) == 0L)  // t_best
    assert(r.getLong(1) == 3L)  // w0
    assert(r.getLong(2) == 93L) // num = 3·31 − 4·0
    assert(r.getLong(3) == 3L)  // den = 3·1
  }

  test("censusAgg: ascending ramp center has popcount 4") {
    val z = Array.tabulate(9)(i => (i + 1).toDouble)
    import spark.implicits._
    val rows = Seq((enc(z, 3, 3), 3, 3)).toDF("b", "w", "h")
      .select(explode(Vision.censusAgg(col("b"), col("w"), col("h")))
        .as("r"))
      .select(col("r._1"), col("r._2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((4L, 1L)))
  }

  test("octant ladder: the 8 unit directions + flat + interior points") {
    val exp = Seq((1, 0) -> 0, (1, 1) -> 1, (0, 1) -> 2, (-1, 1) -> 3,
      (-1, 0) -> 4, (-1, -1) -> 5, (0, -1) -> 6, (1, -1) -> 7,
      (0, 0) -> 8, (2, 1) -> 0, (1, 2) -> 1, (-1, 2) -> 2, (-2, 1) -> 3,
      (-2, -1) -> 4, (-1, -2) -> 5, (1, -2) -> 6, (2, -1) -> 7)
    for (((a, b), o) <- exp)
      assert(Vision.octant(a.toLong, b.toLong) == o, s"octant($a,$b)")
  }

  test("gradOctAgg: x-ramp plane is pure east gradient") {
    // z = 2x → Horn gx = 16, gy = 0 at the single interior pixel
    val z = Array.tabulate(9)(i => (2 * (i % 3)).toDouble)
    import spark.implicits._
    val rows = Seq((enc(z, 3, 3), 3, 3)).toDF("b", "w", "h")
      .select(explode(Vision.gradOctAgg(col("b"), col("w"), col("h")))
        .as("r"))
      .select(col("r._1"), col("r._2"), col("r._3")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0L, 1L, 256L)))
  }

  test("viewshedAgg: one-row ridge blocks the far cell") {
    // z = [0, 10, 0], observer height 2 → (1,0) adjacent-visible,
    // (2,0) blocked by the ridge: (10−2)·2 > (0−2)·1
    val z = Array(0.0, 10, 0)
    val r = one(graft.ops.Terrain.viewshedAgg, z, 3, 1)
    assert(r.getLong(0) == 1L) // visible
    assert(r.getLong(1) == 1L) // blocked
    assert(r.getLong(2) == 1L) // Σ (x+131·y) over visible = 1
  }
}
