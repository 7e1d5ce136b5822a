package graft

import org.apache.spark.sql.functions._
import graft.core.Codec
import graft.ops.Vision

/** Brute-force cross-checks for the late round-5 kernel wave: the
  * BT.601 luma/chroma constants, the division-free hue-sector
  * histogram, ordered Bayer dithering, SAT unsharp masking, and the
  * radiometric cross-calibration moments must each match a literal
  * restatement of their definition on pseudo-random planes (with a
  * NaN nodata stripe where the kernel claims to skip nodata).
  * Deterministic LCG inputs — no RNG. */
class VisionPack3Spec extends SparkSuite {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .map(s => (s >>> 33))

  private def vals(seed: Long, n: Int, mod: Int): Array[Long] =
    lcg(seed).take(n).map(_ % mod).toArray

  private val w = 21; private val h = 18; private val nw = 3

  /** 6-band plane stack with the synth-style nodata stripe x < nw. */
  private def stack(seed: Long): Array[Array[Double]] =
    Array.tabulate(6) { b =>
      val v = vals(seed + b, w * h, 2000)
      Array.tabulate(w * h) { i =>
        if (i % w < nw) Double.NaN else v(i).toDouble
      }
    }

  test("lumaChromaAgg equals the per-pixel BT.601 restatement") {
    val pl = stack(11)
    val bytes = Codec.encode(pl, w, h, "raw-i16le")
    import spark.implicits._
    val row = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(Vision.lumaChromaAgg(col("b"), col("w"), col("h"),
        lit("raw-i16le"), lit(6)))
      .collect()(0).getStruct(0)
    var n = 0L; var ys = 0L; var cb = 0L; var cr = 0L
    var ymin = Long.MaxValue; var ymax = Long.MinValue
    for (i <- 0 until w * h if !pl(0)(i).isNaN) {
      val bl = pl(0)(i).toLong; val gl = pl(1)(i).toLong
      val rl = pl(2)(i).toLong
      val y1000 = 299 * rl + 587 * gl + 114 * bl
      n += 1; ys += y1000
      ymin = math.min(ymin, y1000); ymax = math.max(ymax, y1000)
      cb += 564 * (1000 * bl - y1000); cr += 713 * (1000 * rl - y1000)
    }
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5))
      === ((n, ys, ymin, ymax, cb, cr)))
  }

  test("hueHistAgg sectors match the float-hue hexagon and conserve pixels") {
    val pl = stack(23)
    val bytes = Codec.encode(pl, w, h, "raw-i16le")
    import spark.implicits._
    val rows = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(explode(Vision.hueHistAgg(col("b"), col("w"), col("h"),
        lit("raw-i16le"), lit(6))).as("t"))
      .select(col("t._1"), col("t._2"), col("t._3"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute: compute the FLOAT hue per pixel and bin into 60° sectors
    // (ties at sector boundaries resolved by the documented argmax
    // order R,G,B — reproduce it literally)
    val n = new Array[Long](7); val cs = new Array[Long](7)
    var valid = 0L
    for (i <- 0 until w * h if !pl(0)(i).isNaN) {
      valid += 1
      val bl = pl(0)(i).toLong; val gl = pl(1)(i).toLong
      val rl = pl(2)(i).toLong
      val mx = Seq(rl, gl, bl).max; val mn = Seq(rl, gl, bl).min
      val c = mx - mn
      val sec =
        if (c == 0L) 6
        else if (mx == rl) {
          val hp = (gl - bl).toDouble / c // ∈ [−1, 1]
          if (hp >= 0) 0 else 5
        } else if (mx == gl) {
          val hp = 2.0 + (bl - rl).toDouble / c // ∈ [1, 3]
          if (hp < 2) 1 else 2
        } else {
          val hp = 4.0 + (rl - gl).toDouble / c // ∈ [3, 5]
          if (hp < 4) 3 else 4
        }
      n(sec) += 1; cs(sec) += c
    }
    val expect = (0 until 7).filter(n(_) > 0)
      .map(s => (s.toLong, n(s), cs(s)))
    assert(rows.toSeq === expect)
    assert(rows.map(_._2).sum === valid) // sectors partition the pixels
  }

  test("ditherAgg equals the literal Bayer threshold scan") {
    val pl = stack(37)
    val bytes = Codec.encode(pl, w, h, "raw-i16le")
    import spark.implicits._
    val row = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(Vision.ditherAgg(col("b"), col("w"), col("h"),
        lit("raw-i16le"), lit(6)))
      .collect()(0).getStruct(0)
    var n = 0L; var on = 0L; var chk = 0L
    for (y <- 0 until h; x <- 0 until w if !pl(0)(y * w + x).isNaN) {
      n += 1
      val t = 64L * (2L * Vision.BayerM((y % 4) * 4 + (x % 4)) + 1L)
      if (pl(0)(y * w + x).toLong > t) { on += 1; chk += x + w.toLong * y }
    }
    assert((row.getLong(0), row.getLong(1), row.getLong(2))
      === ((n, on, chk)))
  }

  test("unsharpAgg equals the naive window restatement; flat plane is a fixpoint") {
    val z = vals(41, w * h, 2000).map(_.toDouble)
    val bytes = Codec.encode(Array(z), w, h, "raw-i16le")
    val r = 2; val q = (2L * r + 1) * (2L * r + 1)
    import spark.implicits._
    val row = Seq((bytes, w, h)).toDF("b", "w", "h")
      .select(Vision.unsharpAgg(col("b"), col("w"), col("h"), lit(r)))
      .collect()(0).getStruct(0)
    var n = 0L; var us = 0L; var up = 0L; var chk = 0L
    for (y <- r until h - r; x <- r until w - r) {
      var box = 0L
      for (dy <- -r to r; dx <- -r to r)
        box += z((y + dy) * w + (x + dx)).toLong
      val u = 2L * q * z(y * w + x).toLong - box
      n += 1; us += u; if (u > q * z(y * w + x).toLong) up += 1
      chk += u * (x + 131L * y)
    }
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((n, us, up, chk)))
    // USM leaves a constant plane untouched: U = q·v everywhere
    val flat = Array.fill(w * h)(700.0)
    val fb = Codec.encode(Array(flat), w, h, "raw-i16le")
    val frow = Seq((fb, w, h)).toDF("b", "w", "h")
      .select(Vision.unsharpAgg(col("b"), col("w"), col("h"), lit(r)))
      .collect()(0).getStruct(0)
    assert(frow.getLong(1) === frow.getLong(0) * q * 700L)
    assert(frow.getLong(2) === 0L)
  }

  test("radcalAgg recovers a planted affine relation exactly") {
    // epoch b = 3·a − 40 exactly ⇒ slope num/den must satisfy
    // sxy_n = 3·sxx_n and the intercept identity n·(Σy) = 3·n·(Σx) − 40·n²
    val a = vals(53, w * h, 600).map(v => (v + 100).toDouble)
    val b = a.map(v => 3 * v - 40)
    val ba = Codec.encode(Array(a), w, h, "raw-i16le")
    val bb = Codec.encode(Array(b), w, h, "raw-i16le")
    import spark.implicits._
    val df = Seq((0, ba), (3, bb)).toDF("t", "bytes")
      .agg(collect_list(struct(col("t"), col("bytes"))).as("eps"))
      .select(graft.ops.Terrain.radcalAgg(lit(w), lit(h), lit(0), lit(3),
        col("eps")))
    val row = df.collect()(0).getStruct(0)
    val (n, sx, sy, sxyN, sxxN) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    assert(n === (w * h).toLong)
    assert(sy === 3 * sx - 40 * n)
    assert(sxyN === 3 * sxxN) // exact slope 3
  }

  test("leeSigmaAgg: constant plane is a fixpoint; tau=0 averages " +
    "only equal neighbors; brute-force agreement on a random plane") {
    import spark.implicits._
    val const = Array(Array.fill(w * h)(700.0))
    val cb = Codec.encode(const, w, h, "raw-i16le")
    val r0 = Seq((cb, w, h)).toDF("b", "w", "h")
      .select(Vision.leeSigmaAgg(col("b"), col("w"), col("h"), lit(120)))
      .collect()(0).getStruct(0)
    assert(r0.getLong(2) === 0L) // nothing smoothed
    assert(r0.getLong(1) === 700L * (w - 2) * (h - 2))
    // brute force vs the kernel, tau = 150
    val v = vals(31, w * h, 2000).map(_.toDouble)
    val vb = Codec.encode(Array(v), w, h, "raw-i16le")
    val rk = Seq((vb, w, h)).toDF("b", "w", "h")
      .select(Vision.leeSigmaAgg(col("b"), col("w"), col("h"), lit(150)))
      .collect()(0).getStruct(0)
    var n = 0L; var os = 0L; var nc = 0L; var chk = 0L
    for (y <- 1 until h - 1; x <- 1 until w - 1) {
      val c = v(y * w + x).toLong
      val sel = for (dy <- -1 to 1; dx <- -1 to 1;
                     z = v((y + dy) * w + x + dx).toLong
                     if math.abs(z - c) <= 150) yield z
      val out = Math.floorDiv(sel.sum, sel.size.toLong)
      n += 1; os += out; chk += out * (x + 131L * y)
      if (out != c) nc += 1
    }
    assert((rk.getLong(0), rk.getLong(1), rk.getLong(2), rk.getLong(3))
      === ((n, os, nc, chk)))
  }

  test("ssimAgg: self-similar (flat) blocks score exactly 10^6; " +
    "a textured plane scores strictly less") {
    import spark.implicits._
    // flat plane: a == box-mean everywhere, variance 0 -> SSIM = 1
    val const = Array(Array.fill(34 * 34)(900.0))
    val cb = Codec.encode(const, 34, 34, "raw-i16le")
    val r0 = Seq((cb, 34, 34)).toDF("b", "w", "h")
      .select(Vision.ssimAgg(col("b"), col("w"), col("h")))
      .collect()(0).getStruct(0)
    assert(r0.getLong(0) === 16L) // 32x32 interior = 16 full blocks
    assert(r0.getLong(2) === 1000000L) // min block = exactly 1
    assert(r0.getLong(1) === 16000000L)
    // textured: box-mean smooths, so SSIM < 1 on every block
    val v = vals(47, 34 * 34, 2000).map(_.toDouble)
    val vb = Codec.encode(Array(v), 34, 34, "raw-i16le")
    val r1 = Seq((vb, 34, 34)).toDF("b", "w", "h")
      .select(Vision.ssimAgg(col("b"), col("w"), col("h")))
      .collect()(0).getStruct(0)
    assert(r1.getLong(0) === 16L && r1.getLong(2) < 1000000L)
  }

  test("coherenceAgg: a 1-D ramp is perfectly coherent, flat is 0, " +
    "random texture sits strictly between") {
    import spark.implicits._
    def run(p: Array[Double], pw: Int, ph: Int) = {
      val b = Codec.encode(Array(p), pw, ph, "raw-i16le")
      Seq((b, pw, ph)).toDF("b", "w", "h")
        .select(Vision.coherenceAgg(col("b"), col("w"), col("h")))
        .collect()(0).getStruct(0)
    }
    val ramp = run(Array.tabulate(34 * 34)(i => (i / 34).toDouble * 5),
      34, 34)
    assert(ramp.getLong(0) === 16L)
    assert(ramp.getLong(1) === 16L * 1000000L) // every block coh = 1
    val flat = run(Array.fill(34 * 34)(42.0), 34, 34)
    assert(flat.getLong(1) === 0L && flat.getLong(0) === 16L)
    val rnd = run(vals(53, 34 * 34, 2000).map(_.toDouble), 34, 34)
    assert(rnd.getLong(2) < 1000000L && rnd.getLong(1) > 0L)
  }

  test("hogAgg: a pure-vertical ramp puts every interior pixel in " +
    "octant 2 with magnitude 2·slope; a flat plane emits nothing") {
    import spark.implicits._
    val ramp = Array(Array.tabulate(w * h)(i => (i / w).toDouble * 5))
    val rb = Codec.encode(ramp, w, h, "raw-i16le")
    val rows = Seq((rb, w, h)).toDF("b", "w", "h")
      .select(explode(Vision.hogAgg(col("b"), col("w"), col("h"))).as("t"))
      .select(col("t._1"), col("t._2"), col("t._3")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq ===
      Seq((2L, ((w - 2) * (h - 2)).toLong, 10L * (w - 2) * (h - 2))))
    val flat = Codec.encode(Array(Array.fill(w * h)(3.0)), w, h,
      "raw-i16le")
    assert(Seq((flat, w, h)).toDF("b", "w", "h")
      .select(explode(Vision.hogAgg(col("b"), col("w"), col("h"))))
      .count() === 0L)
  }
}
