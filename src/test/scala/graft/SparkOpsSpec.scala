package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Geom
import graft.gen.Synth
import graft.index.CellGrid
import graft.ops._
import graft.table.Lineage
import java.nio.file.Files

class SparkOpsSpec extends SparkSuite {

  private def images(n: Long): DataFrame = Synth.imagesRange(spark, n, 4)
  private def polys(m: Long): DataFrame = Synth.polygonsRange(spark, m)

  /** The (image_id, fid) pairs of a join as a sorted multiset, so a
    * pair reported twice fails an equality that a set would pass. */
  private def pairBag(df: DataFrame): Seq[(String, Long)] =
    df.select("image_id", "fid").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  /** Brute-force rect join: every open-interval overlapping pair that
    * also passes `refine`. */
  private def brutePairs(im: DataFrame, po: DataFrame,
                         refine: Column = lit(true)): Seq[(String, Long)] =
    pairBag(im.crossJoin(po)
      .where(col("x0m") < col("px1m") && col("px0m") < col("x1m") &&
             col("y0m") < col("py1m") && col("py0m") < col("y1m") && refine))

  test("joinRects matches brute-force theta join (all strategies)") {
    val im = images(3000).cache()
    val po = polys(40).cache()
    val brute = brutePairs(im, po)
    assert(brute.nonEmpty)
    for ((bcast, salt) <- Seq((true, 0), (false, 0), (false, 8)))
      assert(pairBag(SpatialJoin.joinRects(im, po, 7, bcast, salt)) == brute,
        s"strategy bcast=$bcast salt=$salt")
    // min-corner fast path (image extent ≤ cell size) — identical rows
    assert(pairBag(SpatialJoin.joinRectsSmallImages(im, po, 7)) == brute,
      "small-image fast path")
    // and candidate multiplicity is exactly 1 (no dedup needed)
    val cnt = SpatialJoin.joinRectsSmallImages(im, po, 7)
      .groupBy("image_id", "fid").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(cnt == 1L)
  }

  test("joinRectsSmallImages: exact at cell boundaries for key grids res 7, 8, 9") {
    val overlap = col("x0m") < col("px1m") && col("px0m") < col("x1m") &&
      col("y0m") < col("py1m") && col("py0m") < col("y1m")
    def pairs(df: DataFrame) =
      df.select("k", "fid").collect().map(r => (r.getLong(0), r.getLong(1)))
    for ((ext, kr) <- Seq(4096L -> 7, 2048L -> 8, 1024L -> 9)) {
      assert(SpatialJoin.keyRes(7, ext) == kr)
      val cs = CellGrid.cellSize(kr)
      // cell boundaries near the origin at kr, in mdeg
      val bx = (CellGrid.OffX / cs + 1) * cs - CellGrid.OffX
      val by = (CellGrid.OffY / cs + 1) * cs - CellGrid.OffY
      def edges(b: Long, ds: Seq[Int]) =
        for (d <- ds; e <- Seq(-1L, 0L, 1L)) yield b + d * cs + e
      // images of extent 1, cs−1, cs with min corners at boundaries ±1
      def imgIv(b: Long) =
        for (s <- edges(b, -1 to 1); w <- Seq(1L, cs - 1, cs)) yield (s, s + w)
      // polygons also end on a boundary ±1 one or two cells below an
      // image's min corner, and some only touch an image
      def polIv(b: Long) =
        for (s <- edges(b, -2 to 1); w <- Seq(1L, cs - 1, cs, 2 * cs)) yield (s, s + w)
      val im = spark.createDataFrame(
        for (((x0, x1), (y0, y1)) <- imgIv(bx).flatMap(x => imgIv(by).map((x, _))))
          yield (x0, y0, x1, y1))
        .toDF("x0m", "y0m", "x1m", "y1m").withColumn("k", monotonically_increasing_id())
        .cache()
      val po = spark.createDataFrame(
        for (((x0, x1), (y0, y1)) <- polIv(bx).flatMap(x => polIv(by).map((x, _))))
          yield (x0, y0, x1, y1))
        .toDF("px0m", "py0m", "px1m", "py1m").withColumn("fid", monotonically_increasing_id())
        .cache()
      val brute = pairs(im.crossJoin(po).where(overlap)).toSet
      val got = pairs(SpatialJoin.joinRectsSmallImages(im, po, 7, ext))
      val (missing, extra) = (brute -- got, got.toSet -- brute)
      assert(brute.nonEmpty)
      assert(missing.size + extra.size == 0,
        s"extent $ext: missing ${missing.take(3)}, extra ${extra.take(3)}")
      assert(got.length == got.toSet.size, s"duplicate pairs at extent $ext")
      intercept[IllegalArgumentException](
        SpatialJoin.joinRectsSmallImages(im, po, kr + 1, ext))
    }
  }

  test("joinRectsSmallImages build side pads one ring below and left only") {
    val po = polys(40)
    val kr = SpatialJoin.keyRes(7, 1024)
    val expect = po.collect().map { r =>
      val (x0, y0) = (r.getAs[Long]("px0m"), r.getAs[Long]("py0m"))
      val (x1, y1) = (r.getAs[Long]("px1m"), r.getAs[Long]("py1m"))
      val nx = CellGrid.ix(kr, x1 - 1) - CellGrid.ix(kr, x0) + 1
      val ny = CellGrid.iy(kr, y1 - 1) - CellGrid.iy(kr, y0) + 1
      (nx + 1) * (ny + 1)
    }.sum
    assert(SpatialJoin.polyKeyCells(po, kr).count() == expect)
  }

  test("headline join+tile plan shape: no shuffle, broadcast-only exchange") {
    val im = images(10000)
    val po = polys(100)
    val tiles = Tiling.tiles(
      SpatialJoin.cropRects(SpatialJoin.joinRectsSmallImages(im, po, 7))
        .select(col("k"),
          (col("cpx1") - col("cpx0")).as("w"),
          (col("cpy1") - col("cpy0")).as("h")),
      chunkBytes = 65536)
    val plan = tiles.queryExecution.executedPlan.toString
    val exchanges = "(?m)^.*Exchange.*$".r.findAllIn(plan).toSeq
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(_.contains("BroadcastExchange")),
      s"unexpected shuffle in headline plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"))
    // broadcast side joins on ONE long key (LongHashedRelation path)
    assert(plan.contains("HashedRelationBroadcastMode(List(input[") &&
      !plan.contains("SortMergeJoin"))
    // the key and overlap test are null-tolerant, so no inferred
    // null filter between the image Range and the join re-derives the
    // image boxes
    assert(!plan.contains("isnotnull("), s"inferred null filter in headline plan:\n$plan")
  }

  test("broadcast joinRects plan: no inferred null filter on the derived image boxes") {
    val plan = SpatialJoin.joinRects(images(1000), polys(40), 7)
      .queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "")
    assert(plan.contains("BroadcastHashJoin [cell], [cell], Inner"), plan)
    assert(!plan.contains("isnotnull("), plan)
  }

  /** Runs `f` with the session confs `kvs` set, restoring them after. */
  private def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffled joinRects plan: one SortMergeJoin on the packed cell key") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val im = images(1000)
    val po = polys(40)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for ((salt, keys) <- Seq(0 -> "cell", 8 -> "cell, salt")) {
        val exec = SpatialJoin.joinRects(im, po, 7, broadcastPolys = false, salt = salt)
          .queryExecution.executedPlan
        val plan = exec.toString.replaceAll("#\\d+L?", "")
        assert("SortMergeJoin".r.findAllIn(plan).size == 1, plan)
        assert(plan.contains(s"SortMergeJoin [$keys], [$keys], Inner"), plan)
        assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
        // one exchange per side, as many as the row-candidate join had:
        // the bucket aggregate's partitioning satisfies the join
        assert("Exchange".r.findAllIn(plan).size == 2, plan)
        // the build side is the polygon bucket aggregate and the join
        // carries no refine condition, so no row per candidate pair
        val smj = exec.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
          .collectFirst { case j: SortMergeJoinExec => j }.get
        assert(smj.right.find(_.isInstanceOf[ObjectHashAggregateExec]).isDefined, plan)
        assert(smj.left.find(_.isInstanceOf[ObjectHashAggregateExec]).isEmpty, plan)
        assert(smj.condition.isEmpty, plan)
      }
    }
  }

  /** Images and polygons around one res-7 cell: 2·BucketSize + 40 small
    * polygons inside it (its bucket splits into three rows), 30
    * polygons half a cell to 2½ cells wide, and images up to two cells
    * wide around it, so many pairs overlap in two or more shared cells. */
  private def bucketFixture(): (DataFrame, DataFrame) = {
    val cs = CellGrid.cellSize(7)
    val ox = Math.floorDiv(CellGrid.OffX, cs) * cs - CellGrid.OffX
    val oy = Math.floorDiv(CellGrid.OffY, cs) * cs - CellGrid.OffY
    val dense = 2L * SpatialJoin.BucketSize + 40
    val id = col("id")
    val inCell = id < dense
    val po = spark.range(0, dense + 30).select(id.as("fid"),
      when(inCell, lit(ox) + id * 37 % (cs - 600))
        .otherwise(lit(ox - cs) + id * 997 % (2 * cs)).as("px0m"),
      when(inCell, lit(oy) + id * 53 % (cs - 600))
        .otherwise(lit(oy - cs) + id * 631 % (2 * cs)).as("py0m"),
      when(inCell, lit(50) + id * 11 % 500).otherwise(lit(cs / 2) + id * 13 % (2 * cs)).as("pwm"),
      when(inCell, lit(50) + id * 7 % 500).otherwise(lit(cs / 2) + id * 17 % (2 * cs)).as("phm"))
      .withColumn("px1m", col("px0m") + col("pwm"))
      .withColumn("py1m", col("py0m") + col("phm"))
    val im = spark.range(0, 1500).select(id.as("k"), concat(lit("i-"), id).as("image_id"),
      (lit(ox - 2 * cs) + id * 7919 % (5 * cs)).as("x0m"),
      (lit(oy - 2 * cs) + id * 104729 % (5 * cs)).as("y0m"),
      (lit(1) + id * 31 % (2 * cs)).as("w"), (lit(1) + id * 29 % (2 * cs)).as("h"))
      .withColumn("x1m", col("x0m") + col("w"))
      .withColumn("y1m", col("y0m") + col("h"))
    (im.cache(), po.cache())
  }

  test("bucket join: shuffled and salted joinRects equal brute force on a dense, multi-cell fixture") {
    val (im, po) = bucketFixture()
    val perCell = SpatialJoin.withCoverCells(po, 7, "px0m", "py0m", "px1m", "py1m")
      .groupBy("cix", "ciy").count().agg(max("count")).head().getLong(0)
    assert(perCell > 2 * SpatialJoin.BucketSize, s"densest cell holds $perCell polygons")
    val overlap = col("x0m") < col("px1m") && col("px0m") < col("x1m") &&
      col("y0m") < col("py1m") && col("py0m") < col("y1m")
    val multiCell = im.crossJoin(po).where(overlap).where(
      SpatialJoin.cellIx(least(col("x1m"), col("px1m")) - 1, 7) >
        SpatialJoin.cellIx(greatest(col("x0m"), col("px0m")), 7) ||
      SpatialJoin.cellIy(least(col("y1m"), col("py1m")) - 1, 7) >
        SpatialJoin.cellIy(greatest(col("y0m"), col("py0m")), 7)).count()
    assert(multiCell >= 50, s"$multiCell pairs share two or more cells")
    val brute = brutePairs(im, po)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (salt <- Seq(0, 8))
        assert(pairBag(SpatialJoin.joinRects(im, po, 7, broadcastPolys = false, salt = salt)) == brute,
          s"salt=$salt")
      assert(pairBag(SpatialJoin.joinRectsBloom(im, po, 7)) == brute, "bloom")
    }
  }

  test("joinRects: broadcast, shuffled, salted and bloom branches have the same columns") {
    val (im, po) = bucketFixture()
    val want = SpatialJoin.joinRects(im, po, 7).columns.toSeq
    assert(want == Seq("cell", "k", "image_id", "x0m", "y0m", "w", "h", "x1m", "y1m", "cix", "ciy",
      "fid", "px0m", "py0m", "pwm", "phm", "px1m", "py1m"))
    assert(SpatialJoin.joinRects(im, po, 7, broadcastPolys = false).columns.toSeq == want)
    assert(SpatialJoin.joinRects(im, po, 7, broadcastPolys = false, salt = 8).columns.toSeq == want)
    assert(SpatialJoin.joinRectsBloom(im, po, 7).columns.toSeq == want)
  }

  test("bucket join: the probe kernel's interpreted eval gives the same rows as its codegen") {
    val (im, po) = bucketFixture()
    val brute = brutePairs(im, po)
    object Stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    /** The join's pairs, and whether its final plan has a whole-stage
      * codegen node. */
    def run(salt: Int): (Seq[(String, Long)], Boolean) = {
      val j = SpatialJoin.joinRects(im, po, 7, broadcastPolys = false, salt = salt)
        .select("image_id", "fid")
      val pairs = j.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      (pairs, Stages.find(j.queryExecution.executedPlan)(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (salt <- Seq(0, 8)) {
        assert(run(salt) == ((brute, true)), s"codegen, salt=$salt")
        withConf("spark.sql.codegen.wholeStage" -> "false",
            "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
          assert(run(salt) == ((brute, false)), s"interpreted, salt=$salt")
        }
      }
    }
  }

  /** Synth images and rect polygons (with `geom_wkt`), plus copies
    * with a null box corner: images with a null `x1m` or `y0m` and
    * polygons with a null `px0m`. Returns (images, polygons) with and
    * without the null-corner copies. */
  private def nullBoxFixture(): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val deg = (c: String) => (col(c) / 1000.0).cast("string")
    val wkt = concat(lit("POLYGON (("), deg("px0m"), lit(" "), deg("py0m"), lit(", "),
      deg("px1m"), lit(" "), deg("py0m"), lit(", "), deg("px1m"), lit(" "), deg("py1m"),
      lit(", "), deg("px0m"), lit(" "), deg("py1m"), lit(", "), deg("px0m"), lit(" "),
      deg("py0m"), lit("))"))
    val (im, po) = (images(3000), polys(40).withColumn("geom_wkt", wkt))
    val nul = lit(null).cast("long")
    def nullCopy(df: DataFrame, id: String, off: Long, box: String) =
      df.withColumn(id, col(id) + off).withColumn(box, nul)
    val imNull = nullCopy(im.where(col("k") % 3 === 0), "k", 1L << 20, "x1m")
      .unionByName(nullCopy(im.where(col("k") % 3 === 1), "k", 2L << 20, "y0m"))
      .withColumn("image_id", concat(lit("null-"), col("k")))
    val poNull = nullCopy(po, "fid", 1L << 20, "px0m")
    (im.unionByName(imNull).cache(), po.unionByName(poNull).cache(), im.cache(), po.cache())
  }

  test("spatial joins skip null-corner boxes: each equals brute force over the non-null rows") {
    val (imAll, poAll, im, po) = nullBoxFixture()
    val brute = brutePairs(im, po)
    assert(brute.nonEmpty)
    assert(imAll.count() == 5000 && poAll.count() == 80)
    val joins = Seq(
      "small images" -> (() => SpatialJoin.joinRectsSmallImages(imAll, poAll, 7)),
      "broadcast" -> (() => SpatialJoin.joinRects(imAll, poAll, 7)),
      "shuffled" -> (() => SpatialJoin.joinRects(imAll, poAll, 7, broadcastPolys = false)),
      "salt 8" -> (() => SpatialJoin.joinRects(imAll, poAll, 7, broadcastPolys = false, salt = 8)),
      "bloom" -> (() => SpatialJoin.joinRectsBloom(imAll, poAll, 7)))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for ((name, join) <- joins) assert(pairBag(join()) == brute, name)
    }
    val refine = call_function("graft_rect_poly",
      col("x0m"), col("y0m"), col("x1m"), col("y1m"), col("geom_wkt"))
    val got = pairBag(SpatialJoin.joinPolygons(imAll, poAll, 7))
    val bruteRefined = brutePairs(im, po, refine)
    assert(bruteRefined.nonEmpty && got == bruteRefined, "joinPolygons")
    // a null min corner keys to a cell no polygon covers, so those
    // images meet no build row at all
    val kr = SpatialJoin.keyRes(7, 1024)
    val nullKeys = imAll.where(col("y0m").isNull).select(SpatialJoin.minCornerKey(kr).as("cell"))
    assert(nullKeys.count() == 1000)
    assert(nullKeys.join(SpatialJoin.polyKeyCells(poAll, kr), "cell").count() == 0)
  }

  test("joinPolygons (ray-casting refine) matches JTS brute force") {
    import org.locationtech.jts.geom._
    val gf = new GeometryFactory()
    val im = images(2000).cache()
    // concave V-shaped polygon + a triangle, in mdeg
    val wkts = Seq(
      (0L, "POLYGON ((-50 -20, 10 -20, 10 30, -20 30, -20 0, -50 0, -50 -20))"),
      (1L, "POLYGON ((60 -40, 120 -40, 90 20, 60 -40))"))
    val pdf = wkts.map { case (fid, wkt) =>
      val (xs, ys) = Geom.parsePolygonWkt(wkt)
      (fid, wkt, (xs.min * 1000).toLong, (ys.min * 1000).toLong,
        (xs.max * 1000).toLong, (ys.max * 1000).toLong)
    }
    val polyDf = spark.createDataFrame(pdf)
      .toDF("fid", "geom_wkt", "px0m", "py0m", "px1m", "py1m")
    val got = pairBag(SpatialJoin.joinPolygons(im, polyDf, 7))
    // JTS oracle
    val rows = im.select("image_id", "x0m", "y0m", "x1m", "y1m").collect()
    val expect = (for {
      r <- rows
      (fid, wkt) <- wkts
      poly = {
        val (xs, ys) = Geom.parsePolygonWkt(wkt)
        val ring = (xs.indices :+ 0).map(i => new Coordinate(xs(i), ys(i))).toArray
        gf.createPolygon(ring)
      }
      rect = gf.createPolygon(Array(
        new Coordinate(r.getLong(1) / 1000.0, r.getLong(2) / 1000.0),
        new Coordinate(r.getLong(3) / 1000.0, r.getLong(2) / 1000.0),
        new Coordinate(r.getLong(3) / 1000.0, r.getLong(4) / 1000.0),
        new Coordinate(r.getLong(1) / 1000.0, r.getLong(4) / 1000.0),
        new Coordinate(r.getLong(1) / 1000.0, r.getLong(2) / 1000.0)))
      if rect.intersects(poly) && !rect.touches(poly)
    } yield (r.getString(0), fid)).toSeq.sorted
    assert(got == expect)
  }

  test("knn matches brute force and is exact") {
    val im = images(2000)
      .withColumn("cxm", col("x0m") + col("w") * 2)
      .withColumn("cym", col("y0m") + col("h") * 2)
      .select("image_id", "cxm", "cym").cache()
    val qs = spark.createDataFrame(Seq(
      (0L, 0L, 0L), (1L, -140000L, -55000L), (2L, 145000L, 58000L),
      (3L, 70000L, 10000L))).toDF("qid", "qxm", "qym")
    val got = Knn.knn(spark, im, qs, 7, 7)
      .select("qid", "rank", "image_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val brute = im.crossJoin(qs)
      .withColumn("dist2",
        (col("cxm") - col("qxm")) * (col("cxm") - col("qxm")) +
        (col("cym") - col("qym")) * (col("cym") - col("qym")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("dist2"), col("image_id"))))
      .where(col("rank") <= 7)
      .select("qid", "rank", "image_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == brute)
  }

  test("knn leaves no cached round in the session") {
    val im = images(2000)
      .withColumn("cxm", col("x0m") + col("w") * 2)
      .withColumn("cym", col("y0m") + col("h") * 2)
      .select("image_id", "cxm", "cym")
    // a far-off query needs ring doubling, so several rounds are cached
    val qs = spark.createDataFrame(Seq((0L, 0L, 0L), (1L, 170000L, 85000L)))
      .toDF("qid", "qxm", "qym")
    spark.catalog.clearCache()
    assert(Knn.knn(spark, im, qs, 7, 7).collect().length === 14)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("tiling reproduces the reference chunks() contract") {
    // contract (/root/reference/test/test_GeoResource.py:110-125):
    // full-width row bands, contiguous, equal heights except last
    val one = spark.createDataFrame(Seq(("i0", 2000L, 2000L)))
      .toDF("image_id", "w", "h")
    val t100 = Tiling.tilesNum(one, 100).orderBy("tile_idx")
      .select("ty0", "ty1", "th").collect()
    assert(t100.length == 100)
    assert(t100.head.getLong(0) == 0)
    assert(t100.last.getLong(1) == 2000)
    t100.sliding(2).foreach(p =>
      assert(p(0).getLong(1) == p(1).getLong(0), "contiguous"))
    assert(t100.map(_.getLong(2)).distinct.length <= 2)
    // chunkBytes formula: rows = floor(bytes/8/w)
    val tB = Tiling.tiles(one, 8 * 2000 * 64).orderBy("tile_idx")
      .select("ty0", "ty1").collect()
    assert(tB.length == math.ceil(2000.0 / 64).toInt)
    // padding clips at borders
    val tp = Tiling.tilesNum(one, 4, padding = 3)
      .orderBy("tile_idx").select("pty0", "pty1").collect()
    assert(tp.head.getLong(0) == 0 && tp.last.getLong(1) == 2000)
    assert(tp(1).getLong(0) == 500 - 3 && tp(1).getLong(1) == 1000 + 3)
  }

  test("warp: identity grid preserves pixels; 3857 output sizes") {
    val k = 13L // raw-i16le image
    val w = Synth.wOf(k); val h = Synth.hOf(k)
    val p = Synth.planes(k)(0)
    val grid = Warp.Grid(0, 0, w, h, w, h, 1.0, 1.0)
    val out = Warp.resample(p, w, h, 0, h, 1.0, 1.0, grid, interp = 0)
    assert(out.zip(p).forall { case (a, b) =>
      (a.isNaN && b.isNaN) || a == b }, "identity warp must be exact")
    // bilinear at 2x then block-mean ≈ original mean (smooth ramp)
    val g2 = Warp.Grid(0, 0, w, h, w * 2, h * 2, 0.5, 0.5)
    val up = Warp.resample(p, w, h, 0, h, 1.0, 1.0, g2, interp = 1)
    val validUp = up.filter(!_.isNaN)
    val valid = p.filter(!_.isNaN)
    assert(math.abs(validUp.sum / validUp.length - valid.sum / valid.length) < 2.0)
  }

  test("pansharp brovey: constant-band sanity") {
    val w = 8; val h = 8
    val cube = Array.fill(6)(Array.fill(w * h)(100.0))
    val pan = Array.fill(w * h * 4)(200.0)
    val out = Algorithms.pansharpBrovey(cube, w, h, pan, w * 2, h * 2,
      Array(0.3, 0.3, 0.3, 0.1))
    // dnf = (200 - 0.1*100) / (0.3*100*3) = 190/90
    val expect = 100.0 * (190.0 / 90.0)
    assert(out(0).forall(v => math.abs(v - expect) < 1e-9))
  }

  test("kmeans embeddings: deterministic and separates clusters") {
    import spark.implicits._
    val r = new scala.util.Random(4)
    val pts = (0 until 200).map { i =>
      val c = i % 4
      val base = Array.fill(8)(0.0); base(c * 2) = 10.0
      (i.toLong, base.map(_ + r.nextGaussian() * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val a1 = Algorithms.kmeansEmbeddings(spark, df, 4, 5)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toMap
    val a2 = Algorithms.kmeansEmbeddings(spark, df, 4, 5)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toMap
    assert(a1 == a2, "deterministic")
    // all members of a true cluster land together
    (0 until 4).foreach { c =>
      val labels = (0 until 200).filter(_ % 4 == c).map(i => a1(i.toLong))
      assert(labels.distinct.length == 1, s"true cluster $c split: $labels")
    }
  }

  test("rxd: injected anomaly scores highest") {
    val r = new scala.util.Random(8)
    val n = 400
    val cube = Array.fill(3)(Array.fill(n)(0.0))
    for (i <- 0 until n; b <- 0 until 3)
      cube(b)(i) = 100 + r.nextGaussian() * (b + 1)
    // anomaly at 17
    for (b <- 0 until 3) cube(b)(17) = 100 + 40 * (if (b == 1) -1 else 1)
    val rx = Algorithms.rxdPlane(cube)
    assert(rx.indexOf(rx.max) == 17)
  }

  test("lineage: resumable write skips committed buckets, metrics consistent") {
    val root = Files.createTempDirectory("graft_lineage").toString
    val df = images(1000).select("image_id", "k", "w", "h")
    val n1 = Lineage.writeResumable(spark, df, root, "image_id", 8)
    assert(n1 == 8)
    // full resume: nothing to do
    assert(Lineage.writeResumable(spark, df, root, "image_id", 8) == 0)
    // simulate partial failure: drop last 3 commits from the log
    val log = Lineage.logPath(root)
    val lines = Files.readAllLines(log)
    Files.write(log, lines.subList(0, 5))
    assert(Lineage.writeResumable(spark, df, root, "image_id", 8) == 3)
    val back = Lineage.read(spark, root)
    assert(back.count() == 1000)
    assert(back.select("image_id").distinct().count() == 1000)
    val m = Lineage.metrics(spark, root)
    assert(m.count() == 8) // 5 kept + 3 re-commits
    assert(m.groupBy().agg(sum("rows")).collect()(0).getLong(0) >= 1000)
  }

  test("subdataset expansion: sub_idx band order, names, dim-mismatch rejected") {
    import spark.implicits._
    import graft.core.Codec
    def sub(id: String, idx: Long, name: String, w: Int, h: Int, v: Double) =
      (id, idx, name,
        Codec.encode(Array(Array.fill(w * h)(v)), w, h, "raw-i16le"),
        w.toLong, h.toLong, "raw-i16le")
    // out-of-order input rows: expansion must sort by sub_idx
    val subs = Seq(sub("a", 2, "S3", 8, 8, 3), sub("a", 0, "S1", 8, 8, 1),
        sub("a", 1, "S2", 8, 8, 2))
      .toDF("image_id", "sub_idx", "name", "bytes", "w", "h", "fmt")
    val ex = Bands.expandSubdatasets(subs).collect()(0)
    assert(ex.getAs[scala.collection.Seq[String]]("bands").toSeq ==
      Seq("s1", "s2", "s3"))
    assert(ex.getAs[Long]("w") == 8 && ex.getAs[Long]("h") == 8)
    val cube = Codec.decode(ex.getAs[Array[Byte]]("bytes"), 8, 8, 3, "raw-i16le")
    assert(cube(1).forall(_ == 2.0) && cube(2).forall(_ == 3.0))
    // differing dims: rejected (the reference keeps per-band rasters;
    // the columnar cube model documents this as unsupported)
    val bad = Seq(sub("b", 0, "S1", 8, 8, 1), sub("b", 1, "S2", 4, 4, 2))
      .toDF("image_id", "sub_idx", "name", "bytes", "w", "h", "fmt")
    intercept[Exception] { Bands.expandSubdatasets(bad).collect() }
  }

  test("lineage: range buckets carry zone maps; range scan prunes, lookup hits one bucket") {
    val root = Files.createTempDirectory("graft_lineage_rng").toString
    val df = images(1000).select("image_id", "k", "w", "h")
    assert(Lineage.writeRangeResumable(spark, df, root, "k", 8) == 8)
    // resume is a no-op
    assert(Lineage.writeRangeResumable(spark, df, root, "k", 8) == 0)
    // zone maps: every non-empty bucket has stats, ranges are disjoint
    val cs = Lineage.latestCommits(root).values.filter(_.rows > 0).toSeq
      .sortBy(_.lo.get)
    assert(cs.nonEmpty && cs.forall(c => c.lo.isDefined && c.hi.isDefined))
    cs.sliding(2).foreach {
      case Seq(a, b) => assert(a.hi.get < b.lo.get)
      case _         =>
    }
    // pruning decision is metadata-only and strictly narrower than 8
    val lo = 100L; val hi = 200L
    val (sel, total) = Lineage.prunedParts(root, lo, hi)
    assert(total == 8 && sel.nonEmpty && sel.size < 8)
    // pruned read == unpruned filter
    val got = Lineage.readRange(spark, root, "k", lo, hi)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    val want = df.where(col("k") >= lo && col("k") <= hi)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // zone maps survive compaction (gen swap keeps lo/hi)
    Lineage.compact(spark, root, maxFiles = 1)
    val (sel2, _) = Lineage.prunedParts(root, lo, hi)
    assert(sel2 == sel)
    val got2 = Lineage.readRange(spark, root, "k", lo, hi)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == want)
    // equality bucket pruning on the HASH layout: one dir, right rows
    val hroot = Files.createTempDirectory("graft_lineage_pt").toString
    assert(Lineage.writeResumable(spark, df, hroot, "image_id", 8) == 8)
    val one = Lineage.readForKey(spark, hroot, "image_id", "img-17", 8)
      .collect()
    assert(one.length == 1 && one(0).getAs[Long]("k") == 17L)
    // and its plan reads a single bucket directory
    val scanned = Lineage.readForKey(spark, hroot, "image_id", "img-17", 8)
      .queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString
    assert("part=\\d+".r.findAllIn(scanned).toSet.size <= 1)
  }

  test("lineage: range-bucket boundaries persist and resume reuses them verbatim") {
    // percentile_approx is not guaranteed run-to-run identical (partial
    // summary merge order), so a crash/resume that RECOMPUTED bucket
    // boundaries could route rows into already-committed buckets (rows
    // dropped) or duplicate them. The contract: boundaries are computed
    // once, published atomically to _bounds.jsonl BEFORE any commit,
    // and reused verbatim on resume.
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val root = JFiles.createTempDirectory("graft_lineage_bnd").toString
    val df = images(1000).select("image_id", "k", "w", "h")
    assert(Lineage.writeRangeResumable(spark, df, root, "k", 4) == 4)
    val bf = Paths.get(root, "_bounds.jsonl")
    assert(JFiles.exists(bf), "bounds sidecar must be published")
    val b0 = JFiles.readAllLines(bf).asScala.map(_.toLong).toSeq
    assert(b0.length == 3 && b0 == b0.sorted)
    // simulate a crash that lost bucket 2: drop its commit line + dir,
    // then TAMPER the sidecar — if resume recomputed boundaries the
    // redone bucket would ignore the tampered values; if it reuses the
    // sidecar (the contract) the redone bucket holds exactly the keys
    // in the tampered range (b(1), b(2)]
    val log = Paths.get(root, "_commits.jsonl")
    val kept = JFiles.readAllLines(log).asScala
      .filterNot(_.contains("\"part\":2")).toSeq
    JFiles.write(log, kept.asJava)
    val p2 = Paths.get(root, "part=2")
    JFiles.walk(p2).iterator().asScala.toSeq.reverse
      .foreach(JFiles.deleteIfExists(_))
    val tampered = Seq(b0(0), b0(1), b0(2) + 37)
    JFiles.write(bf, tampered.map(_.toString).asJava)
    assert(Lineage.writeRangeResumable(spark, df, root, "k", 4) == 1)
    val rows2 = Lineage.latestCommits(root)(2).rows
    val want = df.where(col("k") > tampered(1) && col("k") <= tampered(2))
      .count()
    assert(rows2 == want,
      s"resume must bucket by the persisted (tampered) bounds: $rows2 != $want")
  }

  test("lineage: compaction swaps generations without losing a row") {
    val root = Files.createTempDirectory("graft_lineage_cmp").toString
    // many input partitions → many small files per bucket
    val df = images(1000).select("image_id", "k", "w", "h").repartition(16)
    assert(Lineage.writeResumable(spark, df, root, "image_id", 4) == 4)
    def files(p: Int, g: Int) = {
      val d = Lineage.partDir(root, p, g)
      if (!Files.exists(d)) 0
      else {
        import scala.jdk.CollectionConverters._
        Files.list(d).iterator().asScala.count(
          _.getFileName.toString.endsWith(".parquet"))
      }
    }
    assert((0 until 4).exists(files(_, 0) > 1), "fixture needs small files")
    val before = Lineage.read(spark, root).orderBy("image_id")
      .collect().map(_.getString(0)).toSeq
    assert(Lineage.compact(spark, root, maxFiles = 1) == 4)
    // every bucket now a single gen-1 file; gen-0 files vacuumed
    (0 until 4).foreach { p =>
      assert(files(p, 1) == 1)
      assert(files(p, 0) == 0)
    }
    val after = Lineage.read(spark, root).orderBy("image_id")
      .collect().map(_.getString(0)).toSeq
    assert(after == before)
    // idempotent: nothing left to compact
    assert(Lineage.compact(spark, root, maxFiles = 1) == 0)
    // crash-sim: compact died after writing a gen-2 dir but BEFORE its
    // commit line — readers must stay on committed gen 1 and ignore
    // the orphan; the next compact vacuums nothing (gen 2 > committed)
    val orphan = Lineage.partDir(root, 0, 2)
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    assert(Lineage.read(spark, root).count() == before.size)
    assert(Lineage.latestCommits(root)(0).gen == 1)
  }

  test("lineage: merge upserts with bucket pruning; delete removes; range layout rejected") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lineage_mrg").toString
    val df = images(500).select("image_id", "k", "w", "h")
    assert(Lineage.writeResumable(spark, df, root, "image_id", 8) == 8)
    val upd = df.where(col("image_id") === "img-7")
      .withColumn("w", col("w") + 9000)
    val ins = Seq(("img-x", 777777L, 11L, 12L)).toDF("image_id", "k", "w", "h")
    val delta = upd.unionByName(ins)
    val r1 = Lineage.merge(spark, delta, root, "image_id", 8)
    assert(r1 > 0 && r1 <= 2, s"2 keys touch at most 2 buckets, got $r1")
    val back = Lineage.read(spark, root)
    val wMerged = back.where(col("image_id") === "img-7")
      .head().getAs[Long]("w")
    assert(back.count() == 501)
    assert(wMerged ==
      df.where(col("image_id") === "img-7").head().getAs[Long]("w") + 9000)
    assert(back.where(col("image_id") === "img-x").count() == 1)
    // re-running the same merge (crash-redo) converges to the same table
    // (a handle from before the merge is stale — vacuumed generation —
    // so re-read the table, as after any snapshot swap)
    Lineage.merge(spark, delta, root, "image_id", 8)
    val back2 = Lineage.read(spark, root)
    assert(back2.count() == 501)
    assert(back2.where(col("image_id") === "img-7").head().getAs[Long]("w")
      == wMerged)
    // delete (one present + one absent key): present key gone, count drops
    val d = Lineage.deleteKeys(spark,
      Seq("img-7", "img-nope").toDF("image_id"), root, "image_id", 8)
    assert(d > 0 && d <= 2)
    val back3 = Lineage.read(spark, root)
    assert(back3.count() == 500)
    assert(back3.where(col("image_id") === "img-7").count() == 0)
    // merge against a range-bucketed (zone-mapped) table must refuse
    val rngRoot = Files.createTempDirectory("graft_lineage_mrg_rng").toString
    Lineage.writeRangeResumable(spark, df, rngRoot, "k", 8)
    intercept[IllegalArgumentException] {
      Lineage.merge(spark, delta, rngRoot, "image_id", 8)
    }
  }

  test("lineage: merge retains pre-merge snapshot when vacuumOld=false") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lineage_mrg_tt").toString
    val df = images(200).select("image_id", "k", "w", "h")
    Lineage.writeResumable(spark, df, root, "image_id", 4)
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    val delta = Seq(("img-y", 888888L, 1L, 2L)).toDF("image_id", "k", "w", "h")
    Lineage.merge(spark, delta, root, "image_id", 4, vacuumOld = false)
    assert(Lineage.read(spark, root).count() == 201)
    // time travel to before the merge sees the pre-merge table
    assert(Lineage.readSnapshot(spark, root, t0).count() == 200)
  }

  test("lineage: schema evolution reconciles vintages; snapshot sees pre-evolution schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lineage_evo").toString
    val df = images(400).select("image_id", "k", "w", "h")
    Lineage.writeResumable(spark, df, root, "image_id", 4)
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    Lineage.addColumn(root, "label", "string", Some("unlabeled"))
    Lineage.renameColumn(root, "h", "height")
    Lineage.dropColumn(root, "w")
    // reads reconcile instantly — no file was rewritten
    val evolved = Lineage.read(spark, root)
    assert(evolved.columns.toSet == Set("image_id", "k", "height", "label"))
    assert(evolved.where(col("label") === "unlabeled").count() == 400)
    // a merge writes the evolved physical schema for its buckets only
    val delta = Seq(("img-z", 555555L, 9L, "tagged"))
      .toDF("image_id", "k", "height", "label")
    Lineage.merge(spark, delta, root, "image_id", 4, vacuumOld = false)
    val mixed = Lineage.read(spark, root)
    assert(mixed.count() == 401)
    assert(mixed.where(col("image_id") === "img-z")
      .head().getAs[String]("label") == "tagged")
    assert(mixed.where(col("label") === "unlabeled").count() == 400)
    // point lookup and range scan reconcile too
    val one = Lineage.readForKey(spark, root, "image_id", "img-z", 4)
    assert(one.columns.toSet == Set("image_id", "k", "height", "label"))
    // schema TIME TRAVEL: the pre-evolution snapshot reads pre-evolution
    // columns (merge retained old generations via vacuumOld = false)
    val snap = Lineage.readSnapshot(spark, root, t0)
    assert(snap.columns.toSet == Set("image_id", "k", "w", "h"))
    assert(snap.count() == 400)
  }

  test("lineage: epoch CDC read returns only epochs past the cursor") {
    val root = Files.createTempDirectory("graft_lineage_cdc").toString
    val df = images(300).select("image_id", "k", "w", "h")
    import graft.streaming.CellStream
    assert(CellStream.latestLineageEpoch(root) == -1L)
    Lineage.writeResumable(spark, df.where(col("k") < 150),
      s"$root/epoch=0", "image_id", 4)
    Lineage.writeResumable(spark, df.where(col("k") >= 150 && col("k") < 250),
      s"$root/epoch=1", "image_id", 4)
    Lineage.writeResumable(spark, df.where(col("k") >= 250),
      s"$root/epoch=2", "image_id", 4)
    assert(CellStream.latestLineageEpoch(root) == 2L)
    assert(CellStream.readLineageEpochs(spark, root).count() == 300)
    val inc = CellStream.readLineageEpochsSince(spark, root, 0L)
    assert(inc.count() == 150)
    assert(inc.agg(min("k")).head().getLong(0) >= 150)
    assert(CellStream.readLineageEpochsSince(spark, root, 2L).isEmpty)
  }

  test("lineage: snapshot retention — time-travel read + expire (Iceberg analog)") {
    val root = Files.createTempDirectory("graft_lineage_tt").toString
    val df = images(500).select("image_id", "k", "w").repartition(8)
    assert(Lineage.writeResumable(spark, df, root, "image_id", 4) == 4)
    val before = Lineage.read(spark, root).count()
    Thread.sleep(5)
    val ts1 = System.currentTimeMillis()
    Thread.sleep(5)
    // retain old generations for time travel
    assert(Lineage.compact(spark, root, maxFiles = 0, vacuumOld = false) == 4)
    assert(Lineage.read(spark, root).count() == before)
    // as-of ts1 = the gen-0 snapshot, still readable (data retained)
    assert(Lineage.readSnapshot(spark, root, ts1).count() == before)
    // as-of now = the latest generations
    assert(Lineage.readSnapshot(spark, root,
      System.currentTimeMillis()).count() == before)
    // expire: superseded gen-0 data reclaimed; current reads untouched
    assert(Lineage.expireSnapshots(root, System.currentTimeMillis() + 1) == 4)
    assert(Lineage.read(spark, root).count() == before)
    // time travel past the horizon must FAIL LOUDLY, not shrink
    intercept[IllegalStateException] {
      Lineage.readSnapshot(spark, root, ts1)
    }
    // expire is idempotent
    assert(Lineage.expireSnapshots(root, System.currentTimeMillis() + 1) == 0)
  }

  test("lineage: fully-empty committed table reads back as empty") {
    val root = Files.createTempDirectory("graft_lineage_empty").toString
    val empty = images(1000).select("image_id", "k")
      .where(col("k") < 0) // zero rows → every bucket empty
    assert(Lineage.writeResumable(spark, empty, root, "image_id", 4) == 4)
    assert(Lineage.read(spark, root).isEmpty) // no zero-path parquet throw
    val m = Lineage.metrics(spark, root)
    assert(m.count() == 4)
    assert(m.agg(sum("rows")).collect()(0).getLong(0) == 0)
  }

  test("writeResumable scans the source exactly once") {
    val root = Files.createTempDirectory("graft-lineage-1scan").toString
    val acc = spark.sparkContext.longAccumulator("evals")
    val tick = udf((x: Long) => { acc.add(1); x }).asNondeterministic()
    val df = spark.range(0, 1000, 1, 4)
      .select(tick(col("id")).as("k"), (col("id") * 3).as("v"))
    assert(Lineage.writeResumable(spark, df, root, "k", 8) == 8)
    // the old per-bucket loop re-evaluated the source once PER BUCKET
    // (8000 evals here); the one-pass writer evaluates each row once
    assert(acc.value == 1000L, s"source rows evaluated ${acc.value} times")
    assert(Lineage.read(spark, root).count() == 1000)
  }

  test("commit log tolerates torn lines (crash mid-append)") {
    val root = Files.createTempDirectory("graft-lineage-torn").toString
    val df = spark.range(0, 200, 1, 4)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    assert(Lineage.writeResumable(spark, df, root, "k", 4) == 4)
    // simulate a crash mid-append: a torn line that still contains
    // '"part":2' but no complete record — must NOT count as committed
    val log = Lineage.logPath(root)
    val kept = Files.readAllLines(log).subList(0, 3)
    Files.write(log, (kept.toArray.mkString("\n") + "\n" +
      """{"part":3,"rows":""").getBytes)
    assert(Lineage.committedParts(root) == Set(0, 1, 2))
    assert(Lineage.metrics(spark, root).count() == 3) // parses cleanly
    // resume redoes exactly the torn bucket
    assert(Lineage.writeResumable(spark, df, root, "k", 4) == 1)
    assert(Lineage.read(spark, root).count() == 200)
  }

  test("joinRectsBloom: identical rows to joinRects, real pre-shuffle pruning") {
    val im = images(5000).cache()
    val po = polys(20).cache()
    val want = pairBag(SpatialJoin.joinRects(im, po, 7))
    assert(want == brutePairs(im, po))
    assert(pairBag(SpatialJoin.joinRectsBloom(im, po, 7)) == want)
    assert(want.nonEmpty)
    // effectiveness: the bloom drops image cell rows before the
    // shuffle — survivors must be well under the full cover set
    val total = SpatialJoin
      .withCoverCells(im, 7, "x0m", "y0m", "x1m", "y1m").count()
    val polKeyed = SpatialJoin
      .withCoverCells(po, 7, "px0m", "py0m", "px1m", "py1m")
      .select((col("cix") * graft.index.CellGrid.IxMul + col("ciy"))
        .as("cell"))
    val bloom = polKeyed.stat.bloomFilter("cell", 1L << 20, 0.01)
    val survivors = SpatialJoin
      .withCoverCells(im, 7, "x0m", "y0m", "x1m", "y1m")
      .select((col("cix") * graft.index.CellGrid.IxMul + col("ciy"))
        .as("cell")).collect()
      .count(r => bloom.mightContainLong(r.getLong(0)))
    assert(survivors < total / 2,
      s"bloom pruned only ${total - survivors} of $total cell rows")
  }

  test("corpusPercentile: merged common-bin histogram == concatenated-pixel walk") {
    val im = Synth.imagesWithBytes(spark, "/root/testdata/sf0.001",
      _.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2))).cache()
    // brute force: decode every band-2 plane and concatenate
    val planes = im.select("bytes", "w", "h", "fmt").collect().flatMap { r =>
      graft.core.Codec.decode(r.getAs[Array[Byte]](0), r.getLong(1).toInt,
        r.getLong(2).toInt,
        graft.core.Codec.bandsStored(r.getString(3), Synth.NumBands),
        r.getString(3))(2)
    }
    assert(planes.nonEmpty)
    for (pct <- Seq(10.0, 50.0, 90.0)) {
      val dist = Stats.corpusPercentile(im, Synth.NumBands, 2, pct)
      val brute = graft.core.Pixels.percentile(planes, pct)
      assert(dist == brute, s"pct=$pct dist=$dist brute=$brute")
    }
  }

  test("stage metrics: observed pipeline stages persist exact counts") {
    val root = Files.createTempDirectory("graft-stages").toString
    val im = images(2000); val po = polys(30)
    val (joined, o1) = Lineage.observed(
      SpatialJoin.joinRects(im, po, 7), "spatial_join")
    val (cropped, o2) = Lineage.observed(
      SpatialJoin.cropRects(joined), "crop")
    val (tiles, o3) = Lineage.observed(
      Tiling.tiles(cropped
        .select(col("k"), col("fid"), col("cpx0"), col("cpy0"),
          (col("cpx1") - col("cpx0")).as("w"),
          (col("cpy1") - col("cpy0")).as("h"))
        .withColumn("image_id",
          concat(col("k").cast("string"), lit(":"), col("fid"))),
        chunkBytes = 65536), "tiles")
    // ONE action drives the whole pipeline; metrics ride along free
    assert(Lineage.writeResumable(spark, tiles
      .withColumnRenamed("image_id", "key"), root, "key", 4) == 4)
    Lineage.recordStages(root, Seq(o1, o2, o3))
    val m = Lineage.stageMetrics(spark, root)
      .select("stage", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact counts vs independent recomputation
    assert(m("spatial_join") == SpatialJoin.joinRects(im, po, 7).count())
    assert(m("crop") == m("spatial_join")) // crop is 1:1
    assert(m("tiles") == Lineage.read(spark, root).count())
    // append-only history: a second run adds three more lines
    Lineage.recordStages(root, Seq(o1, o2, o3))
    assert(Lineage.stageMetrics(spark, root).count() == 6)
  }

  test("cellPyramid: rollup conserves fine-level totals and parent arithmetic") {
    val im = images(2000).cache()
    val fine = SpatialJoin
      .withCoverCells(im, 10, "x0m", "y0m", "x1m", "y1m")
      .groupBy("cix", "ciy").count()
    val coarse = SpatialJoin.cellPyramid(im, 10, 7).cache()
    // conservation: cell-weighted image count and child-cell count at
    // res 7 must equal the res-10 summary's totals
    val Array(nCells, nImages) = coarse
      .agg(sum("n_cells"), sum("n_images")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(nCells == fine.count())
    assert(nImages == fine.agg(sum("count")).collect()(0).getLong(0))
    // parent arithmetic: every coarse cell is a res-7 pack of its ix/iy
    val bad = coarse.filter(
      col("cell_id") =!= lit(7L * graft.index.CellGrid.ResMul) +
        col("cix") * graft.index.CellGrid.IxMul + col("ciy")).count()
    assert(bad == 0)
    // a coarse cell can hold at most 8×8 children
    assert(coarse.agg(max("n_cells")).collect()(0).getLong(0) <= 64)
  }

  test("hilbertRanges: exact rect coverage vs brute xy2d membership, " +
    "disjoint sorted merged ranges (orders 4..6, random rects)") {
    val rnd = new scala.util.Random(7)
    for (order <- 4 to 6; _ <- 1 to 12) {
      val n = 1L << order
      val x0 = rnd.nextInt(n.toInt - 1).toLong
      val x1 = x0 + 1 + rnd.nextInt((n - x0).toInt)
      val y0 = rnd.nextInt(n.toInt - 1).toLong
      val y1 = y0 + 1 + rnd.nextInt((n - y0).toInt)
      val ranges = graft.ops.SpatialJoin.hilbertRanges(x0, y0, x1, y1, order)
      // sorted, disjoint, nothing left unmerged
      ranges.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) => assert(l2 > h1 + 1)
        case _ =>
      }
      val inRanges = ranges.flatMap { case (l, h) => l to h }.toSet
      val brute = (for (x <- x0 until x1; y <- y0 until y1)
        yield graft.expr.Kernels.hilbertXY2D(x, y, order)).toSet
      assert(inRanges === brute, s"order=$order rect=($x0,$y0,$x1,$y1)")
    }
    // full-grid query is ONE range
    assert(graft.ops.SpatialJoin.hilbertRanges(0, 0, 16, 16, 4) ===
      Seq((0L, 255L)))
  }

  test("geohash: canonical goldens and prefix nesting") {
    import spark.implicits._
    // classic reference points (geohash.org): (42.6, -5.6) → ezs42,
    // (57.64911, 10.40744) → u4pruyd (milli-degree truncation keeps
    // the first 7 chars: cell edge at 35 bits ≈ 0.01°)
    val df = Seq((1L, -5600L, 42600L), (2L, 10407L, 57649L))
      .toDF("id", "lon", "lat")
      .withColumn("gh", graft.ops.SpatialJoin.geohash(
        col("lon"), col("lat"), 8))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(1L).startsWith("ezs42"))
    assert(got(2L).startsWith("u4pruy"))
    // shorter precision is a strict prefix of longer
    val gh3 = df.withColumn("g3", graft.ops.SpatialJoin.geohash(
      col("lon"), col("lat"), 3)).collect()
      .map(r => r.getString(3).take(3) -> r.getString(4))
    gh3.foreach { case (pre, g3) => assert(pre == g3) }
  }

  test("quadkey: Bing tile-system goldens and parent-prefix property") {
    import spark.implicits._
    // MSDN "Bing Maps Tile System" worked example: tile (3,5) at
    // level 3 → "213"; (0,0) → all-zero key; (2^L−1, 2^L−1) → all 3s
    val df = Seq((3L, 5L), (0L, 0L), (7L, 7L), (4L, 2L))
      .toDF("tx", "ty")
      .withColumn("qk", graft.ops.SpatialJoin.quadkey(
        col("tx"), col("ty"), 3))
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got((3L, 5L)) == "213")
    assert(got((0L, 0L)) == "000")
    assert(got((7L, 7L)) == "333")
    assert(got((4L, 2L)) == "120")
    // parent tile (tx/2, ty/2) at L−1 is the string PREFIX — the
    // property every pyramid rollup and range scan rides on
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(50)((rnd.nextInt(128).toLong,
      rnd.nextInt(128).toLong)).toDF("tx", "ty")
      .withColumn("qk7", graft.ops.SpatialJoin.quadkey(
        col("tx"), col("ty"), 7))
      .withColumn("qkp", graft.ops.SpatialJoin.quadkey(
        expr("tx div 2"), expr("ty div 2"), 6))
    pts.collect().foreach { r =>
      assert(r.getString(2).take(6) == r.getString(3))
    }
  }

}
