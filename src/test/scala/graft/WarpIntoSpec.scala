package graft

import org.apache.spark.sql.functions._
import graft.core.{Codec, Geom}
import graft.ops.Warp

/** Distributed warp_into: multi-image last-wins pixel merge and the
  * polygon cutline mask, against straightforward recomputation. */
class WarpIntoSpec extends SparkSuite {

  /** Constant-plane image k at (x0m, y0m), w×h px, value v, with a
    * nodata stripe in columns x < nw. */
  private def img(k: Long, x0m: Long, y0m: Long, w: Int, h: Int,
                  v: Double, nw: Int) = {
    val planes = Array.tabulate(6) { _ =>
      Array.tabulate(w * h)(i => if (i % w < nw) Double.NaN else v)
    }
    (k, s"im-$k", Codec.encode(planes, w, h, "raw-i16le"), w.toLong, h.toLong,
      "raw-i16le", x0m, y0m, x0m + w * 4L, y0m + h * 4L)
  }

  test("warpInto merges overlapping images last-wins; nodata never overwrites") {
    import spark.implicits._
    // grid 40x40 px at (0,0)..(160,160); three images:
    //  k=1 value 100 covers the whole grid
    //  k=2 value 200 covers left half, nodata stripe first 2 columns
    //  k=3 value 300 covers top-left 10x10 px
    val rows = Seq(
      img(1, 0, 0, 40, 40, 100, 0),
      img(2, 0, 0, 20, 40, 200, 2),
      img(3, 0, 120, 10, 10, 300, 0))
    val im = rows.toDF("k", "image_id", "bytes", "w", "h", "fmt",
      "x0m", "y0m", "x1m", "y1m")
    val grids = Seq(("g", 0L, 0L, 160L, 160L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    val out = Warp.warpInto(im, grids, tilePx = 16)
      .groupBy("gid").agg(sum("n_valid").as("n"), sum("vsum").as("s"))
      .collect()(0)
    // expected per pixel (40x40): k=3 wins on top-left 10x10 = 300;
    // k=2 wins on x in [2,20) (stripe x<2 stays k=1) except where k=3;
    // k=1 elsewhere.
    var n = 0L; var s = 0L
    for (y <- 0 until 40; x <- 0 until 40) {
      val v =
        if (x < 10 && y < 10) 300
        else if (x >= 2 && x < 20) 200
        else 100
      n += 1; s += v
    }
    assert(out.getLong(1) == n)
    assert(out.getLong(2) == s)
  }

  /** Band-varying sibling of [[img]]: band b holds value v + b. */
  private def imgB(k: Long, x0m: Long, y0m: Long, w: Int, h: Int,
                   v: Double, nw: Int) = {
    val planes = Array.tabulate(6) { b =>
      Array.tabulate(w * h)(i => if (i % w < nw) Double.NaN else v + b)
    }
    (k, s"im-$k", Codec.encode(planes, w, h, "raw-i16le"), w.toLong, h.toLong,
      "raw-i16le", x0m, y0m, x0m + w * 4L, y0m + h * 4L)
  }

  test("warpInto nbBands: every band warps; per-band merge matches band 0 + b·n") {
    import spark.implicits._
    val rows = Seq(
      imgB(1, 0, 0, 40, 40, 100, 0),
      imgB(2, 0, 0, 20, 40, 200, 2),
      imgB(3, 0, 120, 10, 10, 300, 0))
    val im = rows.toDF("k", "image_id", "bytes", "w", "h", "fmt",
      "x0m", "y0m", "x1m", "y1m")
    val grids = Seq(("g", 0L, 0L, 160L, 160L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    val out = Warp.warpInto(im, grids, tilePx = 16, nbBands = 6)
      .groupBy("band").agg(sum("n_valid").as("n"), sum("vsum").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == (0L until 6L).toSet, "every stored band present")
    var n = 0L; var s = 0L
    for (y <- 0 until 40; x <- 0 until 40) {
      val v =
        if (x < 10 && y < 10) 300
        else if (x >= 2 && x < 20) 200
        else 100
      n += 1; s += v
    }
    (0 until 6).foreach { b =>
      assert(out(b.toLong) == ((n, s + b * n)),
        s"band $b merged sums wrong")
    }
  }

  test("decodeMemo: an image overlapping T tiles decodes once, not T times") {
    import spark.implicits._
    // one image fully covering a grid of 3x3=9 tiles → 9 (image,tile)
    // pairs but only 1 real decode (plus nothing else in this query)
    val im = Seq(img(7, 0, 0, 48, 48, 100, 0)).toDF(
      "k", "image_id", "bytes", "w", "h", "fmt",
      "x0m", "y0m", "x1m", "y1m").coalesce(1)
    val grids = Seq(("g", 0L, 0L, 192L, 192L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    val q = Warp.warpInto(im, grids, tilePx = 16)
    Codec.decodeCounter.reset()
    val tiles = q.count()
    val decodes = Codec.decodeCounter.sum()
    assert(tiles == 9L, s"expected 9 tiles, got $tiles")
    assert(decodes < 9L,
      s"decode amplification: $decodes decodes for 9 pairs of 1 image")
    assert(decodes >= 1L)
  }

  test("cutline mask excludes pixels outside the polygon") {
    import spark.implicits._
    val im = Seq(img(1, 0, 0, 40, 40, 100, 0))
      .toDF("k", "image_id", "bytes", "w", "h", "fmt",
        "x0m", "y0m", "x1m", "y1m")
    val grids = Seq(("g", 0L, 0L, 160L, 160L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    // cutline = left half of the grid
    val wkt = Geom.rectWkt(0, 0, 80, 160)
    val out = Warp.warpInto(im, grids, tilePx = 16, cutWkt = lit(wkt))
      .groupBy("gid").agg(sum("n_valid").as("n"), sum("vsum").as("s"))
      .collect()(0)
    assert(out.getLong(1) == 20L * 40) // half the pixels
    assert(out.getLong(2) == 20L * 40 * 100)
  }

  test("warpInto plan: covering-cell equi-join, no nested-loop join") {
    import spark.implicits._
    val im = Seq(img(1, 0, 0, 40, 40, 100, 0), img(2, 0, 0, 20, 40, 200, 2))
      .toDF("k", "image_id", "bytes", "w", "h", "fmt",
        "x0m", "y0m", "x1m", "y1m")
    val grids = Seq(("g", 0L, 0L, 160L, 160L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    for (bcast <- Seq(true, false)) {
      val plan = Warp.warpInto(im, grids, tilePx = 16,
          broadcastTiles = bcast)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("CartesianProduct"),
        s"nested-loop join in warpInto plan (broadcastTiles=$bcast):\n$plan")
      assert(plan.contains("BroadcastHashJoin") ||
             plan.contains("SortMergeJoin") ||
             plan.contains("ShuffledHashJoin"),
        s"no hash/merge equi-join found (broadcastTiles=$bcast):\n$plan")
    }
  }

  test("overview-aware warp: level choice, two-step equality, base fallback") {
    import graft.ops.Warp
    // GDAL-style selection: largest level ≤ scale
    assert(Warp.overviewLevelFor(1.5) == 1)
    assert(Warp.overviewLevelFor(2.0) == 2)
    assert(Warp.overviewLevelFor(3.0) == 2)
    assert(Warp.overviewLevelFor(4.5) == 4)
    assert(Warp.overviewLevelFor(9.0) == 8)
    val w = 23; val h = 17
    val src = Array.tabulate(w * h)(i => (100 + 3 * (i % w) + 7 * (i / w)).toDouble)
    src(5) = Double.NaN
    // downscale 3×: must equal explicit decimate-then-resample at L=2
    val dw = (w + 2) / 3; val dh = (h + 2) / 3
    val g = Warp.Grid(0, 0, w, h, dw, dh, 3.0, 3.0)
    val got = Warp.resampleWithOverviews(src, w, h, 0, h, 1.0, 1.0, g, 0)
    val (ov, ow, oh) = Warp.overviewPlane(src, w, h, 2)
    assert(ow == 12 && oh == 9)
    val want = Warp.resample(ov, ow, oh, 0, h, 2.0, 2.0, g, 0)
    assert(got.zip(want).forall { case (a, b) =>
      a == b || (a.isNaN && b.isNaN) })
    // upscale / sub-2× downscale: identical to the base resample
    val g2 = Warp.Grid(0, 0, w, h, w, h, 1.0, 1.0)
    val base = Warp.resample(src, w, h, 0, h, 1.0, 1.0, g2, 0)
    val viaOv = Warp.resampleWithOverviews(src, w, h, 0, h, 1.0, 1.0, g2, 0)
    assert(viaOv.zip(base).forall { case (a, b) =>
      a == b || (a.isNaN && b.isNaN) })
  }

  test("feathered blend (mergeMode 3): exact w·v/w sums on rect masks") {
    import spark.implicits._
    // A (value 100) covers the whole 20x20 grid; B (value 300) covers
    // the left half. Rect-mask weights have the closed form
    // min(x-nw+1, w-x, y+1, h-y)² — proven general by the edt2 spec —
    // so the expected sums are recomputed per pixel here.
    val rows = Seq(
      img(1, 0, 0, 20, 20, 100, 0),
      img(2, 0, 0, 10, 20, 300, 0))
    val im = rows.toDF("k", "image_id", "bytes", "w", "h", "fmt",
      "x0m", "y0m", "x1m", "y1m")
    val grids = Seq(("g", 0L, 0L, 80L, 80L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    val out = Warp.warpInto(im, grids, tilePx = 16, mergeMode = 3)
      .groupBy("gid").agg(sum("n_valid").as("n"),
        sum("wvsum").as("num"), sum("wsum").as("den"))
      .collect()(0)
    def w2(x: Int, y: Int, w: Int, h: Int): Long = {
      val m = math.min(math.min(x + 1, w - x), math.min(y + 1, h - y))
      m.toLong * m
    }
    var num = 0L; var den = 0L
    for (y <- 0 until 20; x <- 0 until 20) {
      val wa = w2(x, y, 20, 20)
      num += wa * 100; den += wa
      if (x < 10) { val wb = w2(x, y, 10, 20); num += wb * 300; den += wb }
    }
    assert(out.getLong(1) == 400L, "every grid pixel has a hit")
    assert(out.getLong(2) == num, "weighted value sum")
    assert(out.getLong(3) == den, "weight sum")
  }

  test("feathered blend: single image reduces to weight-scaled overlay") {
    import spark.implicits._
    // one image, nodata stripe nw=2: blend value num/den must equal
    // the constant everywhere valid, and den = Σ d² over valid pixels
    val im = Seq(img(7, 0, 0, 12, 8, 50, 2))
      .toDF("k", "image_id", "bytes", "w", "h", "fmt",
        "x0m", "y0m", "x1m", "y1m")
    val grids = Seq(("g", 0L, 0L, 48L, 32L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    val out = Warp.warpInto(im, grids, tilePx = 16, mergeMode = 3)
      .groupBy("gid").agg(sum("n_valid").as("n"),
        sum("wvsum").as("num"), sum("wsum").as("den"))
      .collect()(0)
    var den = 0L
    for (y <- 0 until 8; x <- 2 until 12) {
      val m = math.min(math.min(x - 2 + 1, 12 - x), math.min(y + 1, 8 - y))
      den += m.toLong * m
    }
    assert(out.getLong(1) == 10L * 8L)
    assert(out.getLong(2) == 50L * den)
    assert(out.getLong(3) == den)
  }

  test("mergeFragments: ascending-key overwrite, NaN transparent") {
    val a = Array(1.0, 1.0, Double.NaN)
    val b = Array(2.0, Double.NaN, Double.NaN)
    val m = Warp.mergeFragments(Seq((2L, b), (1L, a)), 3)
    assert(m(0) == 2.0) // later key wins
    assert(m(1) == 1.0) // later key's NaN does not overwrite
    assert(m(2).isNaN)  // nobody valid
  }
}
