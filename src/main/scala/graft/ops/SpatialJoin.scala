package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Geom
import graft.index.CellGrid

/** The engine's spatial joins. Two banded equi-joins are written once
  * here and every spatial operator builds on them.
  *
  * COVERING-CELL RECT JOIN ([[coverCells]] + [[overlapsOnce]]) — the
  * distributed form of the reference's two-phase query (bbox spatial
  * filter → exact Overlaps, GIP/gip/GeoVector.h:153-179):
  *   - each rect layer explodes the cells of its bbox at `res` with
  *     `explode(sequence(...))` over pure shift arithmetic (codegen, no
  *     UDF) and packs them into ONE long key `cell` (a broadcast build
  *     gets the allocation-free LongHashedRelation; a sort-merge join
  *     sorts one column);
  *   - the two layers equi-join on `cell` and refine by OPEN-interval
  *     overlap ([[overlaps]]);
  *   - a pair overlapping several shared cells meets once per cell, so
  *     it is reported only in the cell holding the intersection's min
  *     corner (the unique reporter cell): no distinct shuffle. The
  *     probe side keeps its (cix, ciy) for that test; the build side
  *     drops them.
  *   - small build sides broadcast (zero shuffle); large ones take the
  *     shuffled BUCKET join ([[bucketJoin]]): polygons grouped per cell,
  *     probed by a codegen kernel, no row per candidate pair; optional
  *     SALTING spreads hot cells.
  * Users: [[joinRects]], [[joinRectsBloom]], [[joinPolygons]],
  * [[proximityEdges]] and `Warp.warpInto`; [[joinRectsSmallImages]]
  * keys on min corners instead and shares only [[overlaps]].
  *
  * FIXED-RADIUS POINT JOIN ([[ringJoin]]): with cells at pitch r, a
  * point within r of another lies in the other's cell or one of its 8
  * neighbours. The probe side explodes that 3×3 ring ([[withRing]]),
  * the base side keys its home cell, so every (a, b) pair within r
  * meets exactly once — never all-pairs — and the exact d² ≤ r² refine
  * runs on the candidates. Users: ripley, colocation, knox, dbscan and
  * `Tracks.convoyPairs`; [[kdeHeatmap]] and [[neighbourSum]] reuse the
  * ring alone.
  *
  * NULL-TOLERANT KEYS AND PREDICATES: a join key or condition that is
  * null on a null input lets Catalyst infer `isnotnull(...)` on every
  * column it reads and push that filter below the Project that derives
  * them, where it is rewritten over the alias definitions: each derived
  * box corner and the packed key are then computed twice per row, once
  * in the filter and once in the Project. So [[overlaps]] and
  * [[overlapsOnce]] are `coalesce(<conjunction>, false)` and
  * [[joinRectsSmallImages]] keys on `coalesce(packCell(…), NoCell)`.
  * Under an inner join a null box matched nothing before and matches
  * nothing now, so the rows are the same; only the filter is gone.
  */
object SpatialJoin {

  private def sh(res: Int): Int = CellGrid.Shift - res

  def cellIx(c: Column, res: Int): Column =
    shiftright(c + CellGrid.OffX, sh(res))
  def cellIy(c: Column, res: Int): Column =
    shiftright(c + CellGrid.OffY, sh(res))

  /** The packed long cell key of cell coordinates (ix, iy). */
  def packCell(ix: Column, iy: Column): Column = ix * CellGrid.IxMul + iy

  /** Add exploded covering-cell columns (cix, ciy) for an mdeg bbox. */
  def withCoverCells(df: DataFrame, res: Int,
                     x0: String, y0: String, x1: String, y1: String): DataFrame =
    df.withColumn("cix",
        explode(sequence(cellIx(col(x0), res), cellIx(col(x1) - 1, res))))
      .withColumn("ciy",
        explode(sequence(cellIy(col(y0), res), cellIy(col(y1) - 1, res))))

  /** The names of a layer's four mdeg bbox columns. */
  private[ops] case class Box(x0: String, y0: String, x1: String, y1: String) {
    def cols: Seq[String] = Seq(x0, y0, x1, y1)
  }
  private[ops] val ImageBox = Box("x0m", "y0m", "x1m", "y1m")
  private[ops] val PolyBox = Box("px0m", "py0m", "px1m", "py1m")

  /** One row per covering cell of `b` at `res`: (cix, ciy) plus the
    * packed key `cell`. */
  private[ops] def coverCells(df: DataFrame, res: Int, b: Box): DataFrame =
    withCoverCells(df, res, b.x0, b.y0, b.x1, b.y1)
      .withColumn("cell", packCell(col("cix"), col("ciy")))

  /** The open-interval overlap conjunction, null where a corner is. */
  private def overlapTest(a: Box, b: Box): Column =
    col(a.x0) < col(b.x1) && col(b.x0) < col(a.x1) &&
    col(a.y0) < col(b.y1) && col(b.y0) < col(a.y1)

  /** Open-interval overlap of boxes `a` and `b`; false, never null, on
    * a null corner (null-tolerant, see the object scaladoc). */
  private def overlaps(a: Box, b: Box): Column =
    coalesce(overlapTest(a, b), lit(false))

  /** [[overlaps]] reported once: only in the cell (cix, ciy) of the
    * probe row that holds the intersection's min corner. */
  private[ops] def overlapsOnce(a: Box, b: Box, res: Int): Column =
    coalesce(overlapTest(a, b) &&
      cellIx(greatest(col(a.x0), col(b.x0)), res) === col("cix") &&
      cellIy(greatest(col(a.y0), col(b.y0)), res) === col("ciy"), lit(false))

  /** Add the 3×3 ring of cells around (ix, iy) as (rx, ry): nine rows
    * per input row. `rx`/`ry` may name `ix`/`iy` to replace them. */
  private def withRing(df: DataFrame, ix: String, iy: String,
                       rx: String, ry: String): DataFrame =
    df.withColumn(rx, explode(sequence(col(ix) - 1, col(ix) + 1)))
      .withColumn(ry, explode(sequence(col(iy) - 1, col(iy) + 1)))

  /** Fixed-radius point join: every (a, b) with d² ≤ r² (as column
    * `d2`), each pair once. `probe` carries its point in (xa, ya) and
    * explodes its 3×3 ring of r-pitch cells (cx, cy); `base` carries
    * (xb, yb) and keys its home cell. `keys` are extra equi-keys
    * present on both sides. Self and mirror pairs are the caller's
    * filter. */
  private[ops] def ringJoin(probe: DataFrame, base: DataFrame, r: Long,
                            keys: String*): DataFrame = {
    def home(df: DataFrame, x: String, y: String) =
      df.withColumn("cx", expr(s"$x div $r")).withColumn("cy", expr(s"$y div $r"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    withRing(home(probe, "xa", "ya"), "cx", "cy", "cx", "cy")
      .join(home(base, "xb", "yb"), keys ++ Seq("cx", "cy"))
      .withColumn("d2", d2).where(col("d2") <= lit(r * r))
  }

  /** Per bin of a (gi, gj, `v`) table: `nsum` = Σ v over its 3×3
    * neighbourhood, self included (absent bins count 0). A 9-way
    * explode of the bin keys joined back to the bins — constant fanout
    * on the bin table, never the raw rows. Returns (gi, gj, nsum). */
  private def neighbourSum(bins: DataFrame, v: String): DataFrame =
    withRing(bins, "gi", "gj", "ni", "nj")
      .select(col("gi"), col("gj"), col("ni"), col("nj"))
      .join(bins.select(col("gi").as("ni"), col("gj").as("nj"),
        col(v).as("vn")), Seq("ni", "nj"))
      .groupBy("gi", "gj").agg(sum(col("vn")).as("nsum"))

  /** Hierarchical cell-density pyramid — the H3/S2-style drill-down
    * rollup over the engine's grid (CellGrid's parent = child >> 1
    * prefix property). Images are covered ONCE at `fineRes` and
    * aggregated per fine cell (cell-weighted image count + footprint
    * area sum); the `coarseRes` level is then derived from that fine
    * SUMMARY alone via O(1) parent arithmetic (ix >> Δ, iy >> Δ) —
    * a re-aggregation of a bounded per-cell table, never a second
    * scan of the images. At 10¹² images the fine summary has at most
    * min(N, 4^fineRes) rows, so every coarser level's shuffle is
    * independent of corpus size — build the whole pyramid for the
    * price of one image scan.
    *
    * Returns the coarse level: (cell_id, cix, ciy, n_cells — child
    * cells present, n_images — cell-weighted, area_sum — mdeg²). */
  def cellPyramid(images: DataFrame, fineRes: Int, coarseRes: Int): DataFrame = {
    require(coarseRes < fineRes && coarseRes >= 0,
      s"need 0 <= coarseRes < fineRes, got $coarseRes/$fineRes")
    val d = fineRes - coarseRes
    val fine = withCoverCells(images, fineRes, "x0m", "y0m", "x1m", "y1m")
      .groupBy("cix", "ciy")
      .agg(count(lit(1)).as("n_images"),
        sum((col("x1m") - col("x0m")) * (col("y1m") - col("y0m")))
          .as("area_sum"))
    fine
      .groupBy(shiftright(col("cix"), d).as("cix"),
        shiftright(col("ciy"), d).as("ciy"))
      .agg(count(lit(1)).as("n_cells"),
        sum("n_images").as("n_images"), sum("area_sum").as("area_sum"))
      .select(
        (lit(coarseRes.toLong * CellGrid.ResMul) +
          col("cix") * CellGrid.IxMul + col("ciy")).as("cell_id"),
        col("cix"), col("ciy"), col("n_cells"), col("n_images"),
        col("area_sum"))
  }

  /** Rect-layer spatial join. `images` needs (x0m,y0m,x1m,y1m), `polys`
    * needs (px0m,py0m,px1m,py1m). Returns all pairs with OPEN-interval
    * rectangle overlap, deduped, with all input columns: (cell,
    * images…, cix, ciy, polys…) on every branch.
    *
    * `broadcastPolys = true` hints a broadcast of the polygon cover
    * rows. `false` takes the shuffled bucket join ([[bucketJoin]]), but
    * it only drops that hint: under the session's
    * `spark.sql.autoBroadcastJoinThreshold` Spark (or AQE at run time)
    * may still broadcast the smaller side, which on this branch is the
    * polygon bucket table. Set the threshold to −1 to force the
    * sort-merge join.
    *
    * `salt > 1` spreads each hot cell across `salt` shuffle keys by
    * hashing `saltKey` (any image-side column with per-row-distinct
    * values — default the synth key "k"; pass e.g. "image_id" for
    * other tables) and replicates the polygon buckets `salt`×; it
    * always takes the shuffled branch. Salting changes only the shuffle
    * distribution, never the result rows. */
  def joinRects(images: DataFrame, polys: DataFrame, res: Int = 7,
                broadcastPolys: Boolean = true, salt: Int = 0,
                saltKey: String = "k"): DataFrame = {
    val imgCells = coverCells(images, res, ImageBox)
    if (salt <= 1 && broadcastPolys)
      imgCells.join(broadcast(coverCells(polys, res, PolyBox).drop("cix", "ciy")),
        Seq("cell")).where(overlapsOnce(ImageBox, PolyBox, res))
    else bucketJoin(imgCells, polys, res, salt, saltKey)
  }

  /** Most polygons one bucket row holds: a denser cell spans ⌈n/B⌉
    * rows with the same key, so row size does not grow with density. */
  private[graft] val BucketSize = 128

  /** Shuffled covering-cell join without candidate rows. One aggregate
    * (one exchange) groups the polygon cover rows on the join keys
    * (`cell`, plus `salt` when salting) into bucket rows of at most
    * [[BucketSize]] polygons: `__ps` holds them as structs of every
    * polygon column, `__bx0`…`__by1` their boxes as primitive arrays
    * aligned with it. The bucket grouping's hash partitioning satisfies
    * the sort-merge join, so the join adds only the image side's
    * exchange. Each image cover row meets its cell's bucket rows once,
    * [[graft.expr.RectProbe]] returns the polygons that pass
    * [[overlapsOnce]], and explode + element access give back the
    * polygon columns. `imgCells` is [[coverCells]] of the images (a
    * caller may filter it first). */
  private def bucketJoin(imgCells: DataFrame, polys: DataFrame, res: Int,
                         salt: Int, saltKey: String): DataFrame = {
    graft.expr.GraftFunctions.register(imgCells.sparkSession)
    def q(c: String) = col("`" + c.replace("`", "``") + "`")
    val polCells = coverCells(polys, res, PolyBox).drop("cix", "ciy")
    val (probe, build, keys) =
      if (salt <= 1) (imgCells, polCells, Seq("cell"))
      else (imgCells.withColumn("salt", pmod(hash(col(saltKey)).cast("long"), lit(salt.toLong))),
        polCells.withColumn("salt", explode(sequence(lit(0L), lit(salt.toLong - 1)))),
        Seq("cell", "salt"))
    // one list per key, sorted on px0m (the struct's first field) so
    // the probe can stop at the first polygon right of the image; a
    // cell denser than BucketSize splits into ⌈n/B⌉ sorted slices
    val fields = PolyBox.x0 +: polys.columns.toSeq.filter(_ != PolyBox.x0)
    val box = Seq("__bx0", "__by0", "__bx1", "__by1")
    val buckets = build.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(fields.map(q): _*))).as("__all"))
      .withColumn("__slot", explode(sequence(lit(0), Tiling.idiv(size(col("__all")) - 1,
        lit(BucketSize)).cast("int"))))
      .select(keys.map(col) :+
        slice(col("__all"), col("__slot") * BucketSize + 1, lit(BucketSize)).as("__ps"): _*)
      .select(keys.map(col) ++ Seq(col("__ps")) ++ PolyBox.cols.zip(box).map {
        case (c, b) => col("__ps").getField(c).as(b)
      }: _*)
    val probeCols = ("cell" +: imgCells.columns.toSeq.filter(_ != "cell")).map(q)
    val hits = call_function("graft_rect_probe",
      ((ImageBox.cols ++ Seq("cix", "ciy") ++ box).map(col) :+ lit(res)): _*)
    val p = col("__ps")(col("__i"))
    probe.join(buckets, keys)
      .select(probeCols ++ Seq(col("__ps"), explode(hits).as("__i")): _*)
      .select(probeCols ++ polys.columns.toSeq.map(c => p.getField(c).as(c)): _*)
  }

  /** Z-order key column from two cell-coordinate columns — the
    * codegen shift/mask mirror of [[CellGrid.zInterleave]] (no UDF). */
  def zValue(ix: Column, iy: Column): Column =
    (0 until 20).map { b =>
      shiftleft(shiftright(ix, b).bitwiseAND(lit(1L)), 2 * b + 1) +
        shiftleft(shiftright(iy, b).bitwiseAND(lit(1L)), 2 * b)
    }.reduce(_ + _)

  /** Spatially CLUSTERED layout key (Iceberg z-ordering): each image's
    * min-corner cell at `res` on the Morton curve. Range-partitioning
    * or sorting the write by `z` co-locates spatial neighbors in the
    * same files, so a footprint-filtered scan prunes whole files via
    * their [min,max] z ranges (the zone-map pruning Lineage already
    * does on key ranges, now spatial). */
  def zOrdered(images: DataFrame, res: Int): DataFrame =
    images
      .withColumn("zix", cellIx(col("x0m"), res))
      .withColumn("ziy", cellIy(col("y0m"), res))
      .withColumn("z", zValue(col("zix"), col("ziy")))

  /** HILBERT CURVE KEY (the xy2d walk, Hilbert 1891 via the standard
    * iterative quadrant rotate-flip): order-k key of a cell in the
    * 2^k × 2^k grid. A codegen Catalyst expression
    * ([[graft.expr.HilbertKey]] → Kernels.hilbertXY2D, one static
    * call inside whole-stage codegen) — NOT a Column construction:
    * the rotate-flip re-substitutes x and y every round, so the pure
    * column form grows a ~3^order expression tree (at order 8 it
    * shipped a 204 MB task binary and a 7-minute plan). The DuckDB
    * oracle replays the identical arithmetic as 8 chained CTE rounds
    * of div/mod/CASE. Hilbert keys beat Morton for range-scan
    * locality (consecutive keys are ALWAYS 4-adjacent cells — the
    * spec proves it exhaustively at order 3), which is what a 100 TB
    * layout wants for spatial file clustering. Requires
    * [[graft.expr.GraftFunctions.register]] on the session. */
  def hilbertKey(xc0: Column, yc0: Column, order: Int): Column =
    call_function("graft_hilbert", xc0, yc0, lit(order))

  /** Morton (Z-order) key over the same grid, in the same
    * div/mod-only style: Σ_s s²·(xbit + 2·ybit). */
  def mortonKey(xc: Column, yc: Column, order: Int): Column =
    (0 until order).map { i =>
      val s = 1L << i
      lit(s * s) * (shiftright(xc, i) % 2 + lit(2L) * (shiftright(yc, i) % 2))
    }.reduce(_ + _)

  /** Hilbert RANGE DECOMPOSITION — the file-skipping planner for a
    * Hilbert-clustered table: a query rect over the 2^order grid is
    * decomposed into the minimal set of contiguous key ranges via
    * quadtree descent. Correctness rests on two Hilbert-curve facts:
    * every grid-aligned 2^j subsquare is one contiguous d-interval of
    * length 4^j (it is a node of the curve's recursion), and the
    * curve enters each subsquare at one of its CORNER cells — so the
    * interval is [min d(corners), +4^j). Adjacent intervals are
    * merged. Driver-side pure function: the range count is
    * O(perimeter·order), independent of data size — at 100 TB these
    * ranges become parquet row-group min/max skip predicates on the
    * zorder/hilbert layout column; here they drive a broadcast range
    * join. Half-open rect [x0,x1)×[y0,y1) in cell coordinates. */
  def hilbertRanges(rx0: Long, ry0: Long, rx1: Long, ry1: Long,
                    order: Int): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def rec(qx: Long, qy: Long, sz: Long): Unit = {
      if (qx + sz <= rx0 || rx1 <= qx || qy + sz <= ry0 || ry1 <= qy) return
      if (rx0 <= qx && qx + sz <= rx1 && ry0 <= qy && qy + sz <= ry1) {
        val lo = Seq((qx, qy), (qx + sz - 1, qy), (qx, qy + sz - 1),
          (qx + sz - 1, qy + sz - 1))
          .map { case (x, y) => graft.expr.Kernels.hilbertXY2D(x, y, order) }
          .min
        out += ((lo, lo + sz * sz - 1))
      } else {
        val h = sz / 2
        rec(qx, qy, h); rec(qx + h, qy, h)
        rec(qx, qy + h, h); rec(qx + h, qy + h, h)
      }
    }
    rec(0L, 0L, 1L << order)
    val sorted = out.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    sorted.foreach { r =>
      if (merged.nonEmpty && merged.last._2 + 1 == r._1)
        merged(merged.length - 1) = (merged.last._1, r._2)
      else merged += r
    }
    merged.toSeq
  }

  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard base-32 geohash (Niemeyer 2008; lon-first bit
    * interleave, 5 bits/char) of a milli-degree point: lon ∈
    * [−180000, 180000), lat ∈ [−90000, 90000) milli-degrees →
    * `chars` characters. The successive-bisection bits ARE the high
    * bits of the scaled integer ⌊(v+off)·2²⁰/span⌋, so the whole
    * encode is exact integer arithmetic (the division subtracts its
    * remainder first — no float floor at 4e11 numerators), then one
    * element_at per character. Pure codegen Column — this is the
    * industry-standard interoperable cell key alongside the Morton/
    * Hilbert keys used for file clustering. */
  def geohash(lonMilli: Column, latMilli: Column, chars: Int): Column = {
    require(chars >= 1 && chars <= 8, "1..8 chars (40 bits) supported")
    def scaled(v: Column, off: Long, span: Long): Column = {
      val a = (v + lit(off)) * lit(1048576L)
      (a - pmod(a, lit(span))) / lit(span)
    }
    val ulon = scaled(lonMilli, 180000L, 360000L).cast("long")
    val ulat = scaled(latMilli, 90000L, 180000L).cast("long")
    // 40-bit interleave, lon at even positions counting from the MSB
    val g = (0 until 20).map { i =>
      (shiftright(ulon, 19 - i) % 2) * lit(1L << (39 - 2 * i)) +
        (shiftright(ulat, 19 - i) % 2) * lit(1L << (38 - 2 * i))
    }.reduce(_ + _)
    val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    concat((0 until chars).map { j =>
      element_at(alpha, (shiftright(g, 35 - 5 * j) % 32 + 1).cast("int"))
    }: _*)
  }

  /** Bing-maps QUADKEY ("Bing Maps Tile System", MSDN — the public
    * XYZ tile-pyramid key): base-4 string of `levels` digits
    * interleaving the tile-x/tile-y bits MSB-first, digit_i =
    * 2·ty_bit + tx_bit. The defining property: a parent tile's key
    * is its children's string PREFIX, so pyramid rollups are prefix
    * aggregations (GROUP BY substring) and a key-sorted layout
    * clusters each tile's children contiguously for range scans —
    * the serving-side twin of the Morton/Hilbert file-clustering
    * keys. Pure codegen Column arithmetic, no UDF. Inputs are
    * non-negative integer tile coordinates < 2^levels. */
  def quadkey(tx: Column, ty: Column, levels: Int): Column = {
    require(levels >= 1 && levels <= 30, "1..30 levels supported")
    concat((0 until levels).map { i =>
      ((shiftright(ty, levels - 1 - i) % 2) * 2 +
        (shiftright(tx, levels - 1 - i) % 2)).cast("string")
    }: _*)
  }

  /** CURVE-LOCALITY AUDIT: key the DISTINCT occupied cells of a point
    * set by Hilbert AND Morton at `order`, then measure the total
    * Manhattan step length along each key order — the quantity that
    * bounds how many distinct storage ranges a spatial range scan
    * touches. The window runs over the distinct CELL set (≤ 4^order
    * rows, resolution-bounded metadata, never corpus-sized), so the
    * single-partition sort is deliberate and safe at any corpus size.
    * Input (px, py) with cells = coord div `pitch`. Returns one row
    * (n_cells, hd_sum, hilbert_steps, morton_steps). */
  def curveLocality(pts: DataFrame, pitch: Long, order: Int): DataFrame = {
    graft.expr.GraftFunctions.register(pts.sparkSession)
    val cells = pts.select(expr(s"px div $pitch").as("hx"),
        expr(s"py div $pitch").as("hy")).distinct()
      .select(col("hx"), col("hy"),
        hilbertKey(col("hx"), col("hy"), order).as("hd"),
        mortonKey(col("hx"), col("hy"), order).as("md"))
    import org.apache.spark.sql.expressions.Window
    val wH = Window.orderBy("hd")
    val wM = Window.orderBy("md")
    val steps = cells
      .withColumn("hs", abs(col("hx") - lag("hx", 1).over(wH)) +
        abs(col("hy") - lag("hy", 1).over(wH)))
      .withColumn("ms", abs(col("hx") - lag("hx", 1).over(wM)) +
        abs(col("hy") - lag("hy", 1).over(wM)))
    steps.agg(count(lit(1)).as("n_cells"), sum("hd").as("hd_sum"),
      coalesce(sum("hs"), lit(0L)).as("hilbert_steps"),
      coalesce(sum("ms"), lit(0L)).as("morton_steps"))
  }

  /** Shuffled spatial join with a BLOOM-FILTER runtime prefilter — the
    * row-level pruning a 100 TB shuffled join needs when neither side
    * broadcasts: a Bloom filter over the polygon side's covering cells
    * is built distributed (`stat.bloomFilter` tree-reduces sketch
    * partials; no row collect), broadcast (~1.2 MB at 10⁶ cells /
    * 1% fpp), and applied to image cell rows BEFORE they enter the
    * shuffle — images nowhere near any polygon never ship. The join is
    * then [[joinRects]]' shuffled bucket join ([[bucketJoin]]) on the
    * filtered rows. False positives only cost shuffled bytes; the exact
    * bucket probe keeps the result IDENTICAL to [[joinRects]] (oracle +
    * spec asserted). The hand-rolled analog of AQE's runtime row-level
    * filtering, usable on any Spark version and any plan shape. */
  def joinRectsBloom(images: DataFrame, polys: DataFrame, res: Int = 7,
                     expectedCells: Long = 1L << 20,
                     fpp: Double = 0.01): DataFrame = {
    val bloom = coverCells(polys, res, PolyBox).stat.bloomFilter("cell", expectedCells, fpp)
    val bc = images.sparkSession.sparkContext.broadcast(bloom)
    val might = udf((c: Long) => bc.value.mightContainLong(c))
    bucketJoin(coverCells(images, res, ImageBox).filter(might(col("cell"))),
      polys, res, salt = 0, saltKey = "k")
  }

  /** Small-image fast path: one row per image through the join, keyed
    * on the cell of the image's MIN CORNER alone (no image-side
    * explode, no dedup predicate — each (image, polygon) candidate
    * appears exactly once). The map side is 2 shifts per row and the
    * probe is a single broadcast-hash lookup.
    *
    * `res` is the coarsest grid the caller accepts: it must hold every
    * image (`maxImageExtentM ≤ cellSize(res)`, the caller's guarantee —
    * otherwise use [[joinRects]]). The key grid is the FINEST `kr ≥ res`
    * that still holds an image ([[keyRes]]; res 9 for the default
    * 1024 mdeg), so the probe meets fewer polygons per cell.
    *
    * The polygon side pads its covering on the LOW side only
    * ([[polyKeyCells]]): overlap needs x0m < px1m and x0m > px0m − w
    * with w ≤ cellSize(kr), so the image's min-corner cell lies in the
    * polygon's cells or one below/left of them, never above/right (same
    * on y). */
  def joinRectsSmallImages(images: DataFrame, polys: DataFrame, res: Int = 7,
                           maxImageExtentM: Long = 1024): DataFrame = {
    require(maxImageExtentM <= CellGrid.cellSize(res),
      s"image extent exceeds cell size at res $res — use joinRects")
    val kr = keyRes(res, maxImageExtentM)
    // single packed long key -> Spark picks the allocation-free
    // LongHashedRelation for the broadcast build (a two-column key
    // would fall back to the generic UnsafeHashedRelation and allocate
    // per probe row)
    images.withColumn("cell", minCornerKey(kr))
      .join(broadcast(polyKeyCells(polys, kr)), Seq("cell"))
      .where(overlaps(ImageBox, PolyBox)).drop("cell")
  }

  /** The key of an image with a null min corner in
    * [[joinRectsSmallImages]]: no packed key equals it (|cell| < 2⁴⁵). */
  private val NoCell = Long.MinValue

  /** Probe key of [[joinRectsSmallImages]]: the packed cell of the
    * image's min corner at `kr`, or [[NoCell]] if a corner is null. */
  private[graft] def minCornerKey(kr: Int): Column =
    coalesce(packCell(cellIx(col("x0m"), kr), cellIy(col("y0m"), kr)), lit(NoCell))

  /** Finest resolution `≥ res` whose cell edge is at least `maxExtentM`. */
  private[graft] def keyRes(res: Int, maxExtentM: Long): Int =
    (res to CellGrid.Shift).takeWhile(CellGrid.cellSize(_) >= maxExtentM).last

  /** Polygon build side of [[joinRectsSmallImages]]: one row per cell
    * of the polygon's covering at `kr` plus one ring below and left,
    * with the packed key in `cell`. */
  private[graft] def polyKeyCells(polys: DataFrame, kr: Int): DataFrame =
    polys
      .withColumn("cix", explode(sequence(
        cellIx(col("px0m"), kr) - 1, cellIx(col("px1m") - 1, kr))))
      .withColumn("ciy", explode(sequence(
        cellIy(col("py0m"), kr) - 1, cellIy(col("py1m") - 1, kr))))
      .withColumn("cell", packCell(col("cix"), col("ciy")))
      .drop("cix", "ciy")

  /** Anti-join: images matching NO polygon (reference analog: features
    * with empty intersections map). */
  def joinRectsAnti(images: DataFrame, polys: DataFrame, res: Int = 7): DataFrame = {
    val matched = joinRects(images, polys, res).select(col("image_id")).distinct()
    images.join(matched, Seq("image_id"), "left_anti")
  }

  /** Arbitrary-polygon layer join: cell prefilter on the polygon bbox,
    * exact refinement = rect-vs-ring test (ray casting, pure Scala —
    * /root/reference/GIP/gip/GeoVector.h:166's Overlaps analog).
    * `polys` needs (fid, geom_wkt, px0m..py1m bbox columns). */
  def joinPolygons(images: DataFrame, polys: DataFrame, res: Int = 7): DataFrame = {
    // native Catalyst refine expression: per-task WKT ring memoization
    // instead of a per-row-parsing UDF (graft.expr.RectIntersectsPoly)
    graft.expr.GraftFunctions.register(images.sparkSession)
    val refine = (a: Column, b: Column, c: Column, d: Column, w: Column) =>
      call_function("graft_rect_poly", a, b, c, d, w)
    val j = coverCells(images, res, ImageBox)
      .join(broadcast(coverCells(polys, res, PolyBox).drop("cix", "ciy")), Seq("cell"))
      .where(overlapsOnce(ImageBox, PolyBox, res))
      .where(refine(col("x0m"), col("y0m"), col("x1m"), col("y1m"), col("geom_wkt")))
    // public output schema: (cix, ciy, images…, polys…)
    j.select(("cix" +: "ciy" +: j.columns.filterNot(Set("cell", "cix", "ciy")))
      .map(col): _*)
  }

  /** Per-hit intersection GEOMETRY — the reference's `intersections`
    * returns the exact Intersection geometry WKT keyed by FID
    * (/root/reference/GIP/gip/GeoVector.h:167-169); this emits it per
    * joined (image, polygon) row: Sutherland-Hodgman clip of the
    * polygon ring by the image footprint rect, plus vertex count and
    * shoelace area. `joined` needs the image bbox (x0m..y1m) and
    * `geom_wkt` (degree coordinates, as the layer stores them). */
  def intersectionGeom(joined: DataFrame): DataFrame = {
    val ig = udf((x0m: Long, y0m: Long, x1m: Long, y1m: Long, wkt: String) => {
      val (xs, ys) = Geom.parsePolygonWkt(wkt)
      val (cx, cy) = Geom.clipPolygonRect(xs, ys,
        Geom.BBoxD(x0m / 1000.0, y0m / 1000.0, x1m / 1000.0, y1m / 1000.0))
      (Geom.ringWkt(cx, cy), cx.length.toLong, Geom.polygonArea(cx, cy))
    })
    joined
      .withColumn("ig", ig(col("x0m"), col("y0m"), col("x1m"), col("y1m"),
        col("geom_wkt")))
      .withColumn("inter_wkt", col("ig._1"))
      .withColumn("inter_nvert", col("ig._2"))
      .withColumn("inter_area_deg2", col("ig._3"))
      .drop("ig")
  }

  /** Oracle-exact variant of [[intersectionGeom]] in INTEGER mdeg
    * space: the polygon ring is rebuilt from its integer bbox columns
    * so every clipped vertex and the shoelace area are exact integers —
    * the driver gate checks area == the closed-form rectangle overlap.
    * Same kernel as the WKT path (clip + shoelace), different ring
    * source. */
  def intersectionGeomMdeg(joined: DataFrame): DataFrame = {
    val ig = udf((x0m: Long, y0m: Long, x1m: Long, y1m: Long,
                  px0: Long, py0: Long, px1: Long, py1: Long) => {
      val xs = Array(px0.toDouble, px1.toDouble, px1.toDouble, px0.toDouble)
      val ys = Array(py0.toDouble, py0.toDouble, py1.toDouble, py1.toDouble)
      val (cx, cy) = Geom.clipPolygonRect(xs, ys,
        Geom.BBoxD(x0m.toDouble, y0m.toDouble, x1m.toDouble, y1m.toDouble))
      (Geom.ringWkt(cx, cy), cx.length.toLong,
        Geom.polygonArea(cx, cy).toLong)
    })
    joined
      .withColumn("ig", ig(col("x0m"), col("y0m"), col("x1m"), col("y1m"),
        col("px0m"), col("py0m"), col("px1m"), col("py1m")))
      .withColumn("inter_wkt", col("ig._1"))
      .withColumn("inter_nvert", col("ig._2"))
      .withColumn("inter_area", col("ig._3"))
      .drop("ig")
  }

  /** Pixel-space crop rect of a polygon(rect) ∩ image — the Extract /
    * crop semantics (reference read(chunk) window math,
    * /root/reference/GIP/gip/GeoRaster.h:452-530): intersection mapped
    * through the inverse affine (res 4 mdeg/px, y row 0 at y1m top).
    * Emits integer pixel bounds [px0,px1)×[py0,py1). */
  def cropRects(joined: DataFrame, resM: Long = 4L): DataFrame = {
    joined
      .withColumn("ix0m", greatest(col("x0m"), col("px0m")))
      .withColumn("iy0m", greatest(col("y0m"), col("py0m")))
      .withColumn("ix1m", least(col("x1m"), col("px1m")))
      .withColumn("iy1m", least(col("y1m"), col("py1m")))
      // x: floor((ix0m - x0m)/resM) .. ceil((ix1m - x0m)/resM)
      .withColumn("cpx0", Tiling.idiv(col("ix0m") - col("x0m"), lit(resM)))
      .withColumn("cpx1", Tiling.idiv(col("ix1m") - col("x0m") + resM - 1, lit(resM)))
      // y: row 0 is the TOP of the image (geo y1m), per the reference's
      // north-up affine (negative yres)
      .withColumn("cpy0", Tiling.idiv(col("y1m") - col("iy1m"), lit(resM)))
      .withColumn("cpy1", Tiling.idiv(col("y1m") - col("iy0m") + resM - 1, lit(resM)))
  }

  /** Proximity ("within distance") graph over image footprints: an
    * edge (ka < kb) whenever the two rects padded by `pad` mdeg on
    * every side overlap strictly (L∞ gap < 2·pad). Edges are found
    * with the covering-cell equi-join — NEVER all-pairs — and each
    * pair is reported only by the top-left cell of the padded
    * intersection, so no post-join distinct is needed. At 10⁹ images
    * the shuffle key count is bounded by cells, and per-cell work by
    * local density, not corpus size. */
  def proximityEdges(images: DataFrame, pad: Long, res: Int = 7): DataFrame =
    proximityPairs(images, pad, res).select("ka", "kb")

  /** [[proximityEdges]] plus the padded-corner SUMS of both endpoints:
    * (ka, kb, sxa, sya, sxb, syb) with sx = (x0m−pad)+(x1m+pad) =
    * x0m+x1m — the pad cancels exactly in integer arithmetic, so
    * centroid-derived edge weights (|Δ(x0+x1)| + |Δ(y0+y1)|) come
    * straight off the pair row and the consumer skips the two
    * footprint re-attach shuffle joins q_sssp used to pay. */
  def proximityEdgesCoords(images: DataFrame, pad: Long,
                           res: Int = 7): DataFrame =
    proximityPairs(images, pad, res)
      .select(col("ka"), col("kb"),
        (col("ax0") + col("ax1")).as("sxa"),
        (col("ay0") + col("ay1")).as("sya"),
        (col("bx0") + col("bx1")).as("sxb"),
        (col("by0") + col("by1")).as("syb"))

  private def proximityPairs(images: DataFrame, pad: Long,
                             res: Int): DataFrame = {
    val base = images.select(col("k"), (col("x0m") - pad).as("bx0"),
      (col("y0m") - pad).as("by0"), (col("x1m") + pad).as("bx1"),
      (col("y1m") + pad).as("by1"))
    val (aBox, bBox) = (Box("ax0", "ay0", "ax1", "ay1"), Box("bx0", "by0", "bx1", "by1"))
    coverCells(base.toDF("ka", "ax0", "ay0", "ax1", "ay1"), res, aBox)
      .join(coverCells(base.toDF("kb", "bx0", "by0", "bx1", "by1"), res, bBox)
        .drop("cix", "ciy"), Seq("cell"))
      .where(col("ka") < col("kb") && overlapsOnce(aBox, bBox, res))
  }

  /** Triangle census of the proximity graph via degree-ordered
    * orientation (Cohen 2009 / the standard MapReduce triangle
    * recipe): each edge points from the lower (degree, id) endpoint
    * to the higher, every wedge is generated at its lowest apex
    * only, and a hash join against the oriented edge list closes
    * triangles — work is bounded by Σ out-deg² with out-degrees
    * capped near the arboricity, not by the max hub degree. Returns
    * one row: (n_edges, n_triangles, chk = Σ a+b+c over triangles). */
  def triangleCensus(images: DataFrame, pad: Long, res: Int = 7): DataFrame = {
    val edges = proximityEdges(images, pad, res)
    val deg = edges.select(col("ka").as("v"))
      .unionAll(edges.select(col("kb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    // total order: ord = deg·2^40 + id (ids < 2^40; unique by id)
    val withOrd = edges
      .join(deg.select(col("v").as("ka"), col("dg").as("da")), Seq("ka"))
      .join(deg.select(col("v").as("kb"), col("dg").as("db")), Seq("kb"))
      .select(col("ka"), col("kb"),
        (col("da") * (1L << 40) + col("ka")).as("orda"),
        (col("db") * (1L << 40) + col("kb")).as("ordb"))
    val oriented = withOrd.select(
      when(col("orda") < col("ordb"), col("ka")).otherwise(col("kb")).as("u"),
      when(col("orda") < col("ordb"), col("kb")).otherwise(col("ka")).as("v"),
      when(col("orda") < col("ordb"), col("ordb")).otherwise(col("orda"))
        .as("ordv"))
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("ordv").as("o1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("ordv").as("o2"))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tris = e1.join(e2, Seq("u")).where(col("o1") < col("o2"))
      .join(closing, Seq("v1", "v2"))
      .agg(count(lit(1)).as("n_triangles"),
        coalesce(sum(col("u") + col("v1") + col("v2")), lit(0L)).as("chk"))
    edges.agg(count(lit(1)).as("n_edges")).crossJoin(tris)
      .select(col("n_edges"), col("n_triangles"), col("chk"))
  }

  /** Hexagonal-lattice binning of footprint centroids — the H3-style
    * hex rollup stated in pure integers so the oracle replays it
    * exactly: centers form a hex lattice in DOUBLED centroid space
    * (cx = i·2sx, cy = j·2sy + sy·(i mod 2) — odd columns offset by
    * half a pitch; the Voronoi cells of such a lattice are
    * hexagons), each centroid is assigned to the nearest center by
    * exact integer squared distance over the 3×3 candidate
    * neighborhood, ties → lexicographic (i, j). Working in doubled
    * space (qx = x0m+x1m) avoids the /2 centroid divide entirely.
    * Returns (hi, hj, n_images, k_sum) per non-empty bin. */
  def hexBin(images: DataFrame, sx: Long, sy: Long): DataFrame = {
    val qx = (col("x0m") + col("x1m") + lit(2L * CellGrid.OffX)).as("qx")
    val qy = (col("y0m") + col("y1m") + lit(2L * CellGrid.OffY)).as("qy")
    val cand = images.select(col("k"), qx, qy)
      .withColumn("i", explode(sequence(
        expr(s"qx div ${2 * sx}") - 1, expr(s"qx div ${2 * sx}") + 1)))
      .withColumn("j", explode(sequence(
        expr(s"qy div ${2 * sy}") - 1, expr(s"qy div ${2 * sy}") + 1)))
      .withColumn("cx", col("i") * (2 * sx))
      .withColumn("cy", col("j") * (2 * sy) + lit(sy) * (col("i") % 2))
      .withColumn("d2", (col("qx") - col("cx")) * (col("qx") - col("cx")) +
        (col("qy") - col("cy")) * (col("qy") - col("cy")))
    cand.groupBy("k")
      .agg(min(struct(col("d2"), col("i"), col("j"))).as("b"))
      .select(col("k"), col("b.i").as("hi"), col("b.j").as("hj"))
      .groupBy("hi", "hj")
      .agg(count(lit(1)).as("n_images"), sum(col("k")).as("k_sum"))
  }

  /** Getis-Ord Gi* hotspot pieces (Getis & Ord 1992) over an
    * eps-pitch grid of footprint centroids, exact integers: the bin
    * value x is the image count, the Gi* numerator for a bin is the
    * 3×3-neighborhood sum Σ_j w_ij·x_j with binary contiguity
    * weights INCLUDING self — empty bins contribute 0, so summing
    * over the non-empty neighbors is exact. The float z-score is
    * (nsum − x̄·W)/σ·…, all derivable from (x, nsum) plus the global
    * count/Σx/Σx² the caller already has; the gate pins the integer
    * pieces. Doubled-coordinate space avoids the centroid divide.
    *
    * Scale posture: one hash shuffle to the bin key builds the bin
    * table; the neighborhood sum is [[neighbourSum]] on that SMALL
    * table, never touching the raw rows again. Returns one row per
    * non-empty bin: (gi, gj, x, nsum). */
  def hotspotBins(images: DataFrame, eps: Long): DataFrame = {
    val pts = images.select(
      (col("x0m") + col("x1m") + lit(2L * CellGrid.OffX)).as("qx"),
      (col("y0m") + col("y1m") + lit(2L * CellGrid.OffY)).as("qy"))
    val bins = pts
      .select(expr(s"qx div $eps").as("gi"), expr(s"qy div $eps").as("gj"))
      .groupBy("gi", "gj").agg(count(lit(1)).as("x"))
    bins.join(neighbourSum(bins, "x"), Seq("gi", "gj"))
      .select(col("gi"), col("gj"), col("x"), col("nsum"))
  }

  /** 2-hop neighborhood census over the proximity graph: per node,
    * the count of DISTINCT nodes reachable in ≤ 2 hops (self
    * excluded) — the local reach statistic. One self-join of the
    * directed edge list on the middle vertex (work Σ deg², the same
    * bound as the triangle wedge step), then a distinct + count on
    * the source key. Returns (v, n1 = direct neighbors, n2 =
    * distinct ≤2-hop neighbors). */
  def twoHopCensus(images: DataFrame, pad: Long, res: Int = 7): DataFrame = {
    val e = proximityEdges(images, pad, res)
    val dir = e.select(col("ka").as("src"), col("kb").as("dst"))
      .unionAll(e.select(col("kb").as("src"), col("ka").as("dst")))
    val n1 = dir.groupBy("src").agg(count(lit(1)).as("n1"))
    val hop2 = dir.select(col("src"), col("dst").as("mid"))
      .join(dir.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .unionAll(dir)
      .distinct()
      .groupBy("src").agg(count(lit(1)).as("n2"))
    n1.join(hop2, Seq("src"))
      .select(col("src").as("v"), col("n1"), col("n2"))
  }

  /** SEGMENT CROSSINGS between tracks of different users — encounter
    * detection stated in exact integers: segments AB and CD intersect
    * (touching included) iff their bboxes overlap AND d1·d2 ≤ 0 AND
    * d3·d4 ≤ 0 where d1..d4 are the four orientation cross products
    * (d1 = cross(D−C, A−C), …). The bbox conjunct both enforces the
    * collinear-overlap case and is free — the banded join already
    * requires it. No divides, no floats: the predicate is the
    * textbook orientation test (Cormen et al., segment-intersection).
    *
    * Banding: each segment explodes the cover cells of its bbox at
    * `pitch` (callers bound segment length by pitch, so ≤ 4 cells);
    * pairs meet on the cell key and are DEDUPED without a distinct
    * shuffle by the reporter-cell rule — a pair counts only in the
    * cell holding the top-left corner of the bbox intersection.
    * Input: (sid, u, ax, ay, bx, by). Returns one row
    * (n_segs, n_cand, n_cross) — candidates = bbox-overlap pairs. */
  def segmentCrossings(segs: DataFrame, pitch: Long): DataFrame = {
    val s2 = segs.select(col("sid"), col("u"),
      col("ax"), col("ay"), col("bx"), col("by"),
      least(col("ax"), col("bx")).as("x0"),
      greatest(col("ax"), col("bx")).as("x1"),
      least(col("ay"), col("by")).as("y0"),
      greatest(col("ay"), col("by")).as("y1"))
    def cover(suffix: String) = s2
      .withColumn("ccx", explode(sequence(expr(s"x0 div $pitch"),
        expr(s"x1 div $pitch"))))
      .withColumn("ccy", explode(sequence(expr(s"y0 div $pitch"),
        expr(s"y1 div $pitch"))))
      .select(col("ccx"), col("ccy"),
        col("sid").as(s"sid$suffix"), col("u").as(s"u$suffix"),
        col("ax").as(s"ax$suffix"), col("ay").as(s"ay$suffix"),
        col("bx").as(s"bx$suffix"), col("by").as(s"by$suffix"),
        col("x0").as(s"x0$suffix"), col("x1").as(s"x1$suffix"),
        col("y0").as(s"y0$suffix"), col("y1").as(s"y1$suffix"))
    val cand = cover("a").join(cover("b"), Seq("ccx", "ccy"))
      .where(col("ua") < col("ub") &&
        col("x0a") <= col("x1b") && col("x0b") <= col("x1a") &&
        col("y0a") <= col("y1b") && col("y0b") <= col("y1a") &&
        // reporter cell: top-left corner of the bbox intersection
        col("ccx") === expr(s"greatest(x0a, x0b) div $pitch") &&
        col("ccy") === expr(s"greatest(y0a, y0b) div $pitch"))
    val d1 = (col("bxb") - col("axb")) * (col("aya") - col("ayb")) -
      (col("byb") - col("ayb")) * (col("axa") - col("axb"))
    val d2 = (col("bxb") - col("axb")) * (col("bya") - col("ayb")) -
      (col("byb") - col("ayb")) * (col("bxa") - col("axb"))
    val d3 = (col("bxa") - col("axa")) * (col("ayb") - col("aya")) -
      (col("bya") - col("aya")) * (col("axb") - col("axa"))
    val d4 = (col("bxa") - col("axa")) * (col("byb") - col("aya")) -
      (col("bya") - col("aya")) * (col("bxb") - col("axa"))
    val n = segs.agg(count(lit(1)).as("n_segs"))
    n.crossJoin(cand.agg(
      count(lit(1)).as("n_cand"),
      sum(when(d1 * d2 <= 0 && d3 * d4 <= 0, 1L).otherwise(0L))
        .as("n_cross")))
      .select(col("n_segs"), col("n_cand"),
        coalesce(col("n_cross"), lit(0L)).as("n_cross"))
  }

  /** RIPLEY'S K pair counts (Ripley 1976) — the multi-scale
    * point-pattern statistic: for each radius r in `radii`, the
    * number of unordered point pairs with d² ≤ r² (exact integers;
    * K̂(r) follows by the analyst's edge-correction and n/area
    * normalization, which keeps the gate integer). ONE banded pair
    * join at the coarsest pitch (rmax cells, 3×3 probe — each i<j
    * pair met exactly once), then every radius counts from the same
    * candidate set: cost is the rmax join, not |radii| joins.
    * Input: (id, px, py). Returns (r, n_pairs) per radius. */
  def ripleyCounts(pts: DataFrame, radii: Seq[Long]): DataFrame = {
    val rmax = radii.max
    val pairs = ringJoin(
        pts.select(col("id").as("ia"), col("px").as("xa"), col("py").as("ya")),
        pts.select(col("id").as("ib"), col("px").as("xb"), col("py").as("yb")),
        rmax)
      .where(col("ia") < col("ib"))
      .select("d2")
    val sp = pts.sparkSession
    import sp.implicits._
    pairs.crossJoin(broadcast(radii.toDF("r")))
      .groupBy("r")
      .agg(sum(when(col("d2") <= col("r") * col("r"), 1L)
        .otherwise(0L)).as("n_pairs"))
  }

  /** MANN-KENDALL trend statistic per grid cell (Mann 1945; the
    * "emerging hot spot" space-time-cube primitive): bucket events
    * into (cell, time-bucket) counts, then per cell
    * S = Σ_{i<j} sign(c_j − c_i) over the OBSERVED buckets — pure
    * integers, no trend-line fit. The variance term of the MK z-test
    * needs only n_buckets (and tie groups), so the gate stays exact.
    *
    * Scale shape: one count aggregation (map-side combined), then a
    * self-join KEYED ON THE CELL — per-cell work is bounded by the
    * time-bucket count T (calendar-bounded, e.g. ≤31 days), so the
    * join fanout is ≤T² per cell with no all-pairs across cells.
    * Input: (px, py, t). Returns
    * (gi, gj, n_buckets, n_events, s_stat). */
  def mannKendallCells(pts: DataFrame, pitch: Long,
                       tbSize: Long): DataFrame = {
    val binned = pts.select(expr(s"px div $pitch").as("gi"),
        expr(s"py div $pitch").as("gj"),
        expr(s"t div $tbSize").as("tb"))
      .groupBy("gi", "gj", "tb").agg(count(lit(1)).as("c"))
    val pairs = binned.select(col("gi"), col("gj"), col("tb").as("ta"),
        col("c").as("ca"))
      .join(binned.select(col("gi"), col("gj"), col("tb").as("tz"),
        col("c").as("cz")), Seq("gi", "gj"))
      .where(col("ta") < col("tz"))
    val s = pairs.groupBy("gi", "gj").agg(
      sum(when(col("cz") > col("ca"), 1L)
        .when(col("cz") < col("ca"), -1L).otherwise(0L)).as("s_stat"))
    binned.groupBy("gi", "gj")
      .agg(count(lit(1)).as("n_buckets"), sum("c").as("n_events"))
      .join(s, Seq("gi", "gj"), "left")
      .select(col("gi"), col("gj"), col("n_buckets"), col("n_events"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"))
  }

  /** EMERGING-HOTSPOT classification — the space-time-cube analysis
    * (the published "emerging hot spot" taxonomy over a Getis-Ord-
    * style hot test × Mann-Kendall trend, stated division-free):
    * per cell, the MK S statistic over its per-bucket counts
    * ([[mannKendallCells]]) composed with a hot-NOW test on the
    * FINAL time slice — a cell is hot iff its 3×3 neighborhood
    * count sum beats the slice's global per-cell mean by
    * cross-multiplication (nsum·ncells > 9·tot; neighbors absent
    * from the slice count 0, and a cell with no events in the final
    * slice is not hot). Taxonomy:
    *   hot ∧ S>0 → intensifying;  hot ∧ S=0 → persistent;
    *   hot ∧ S<0 → diminishing;   ¬hot ∧ S>0 → emerging; else none.
    * Scale shape: the per-cell series self-join is calendar-bounded
    * (≤ nTb² rows per cell), the slice probe is a 9-key explode
    * join over ≤ #occupied-cells rows, and the global slice stats
    * ride in as one broadcast row — nothing corpus-sized shuffles
    * more than once. Returns (gi, gj, n_events, s_stat, hot, cls). */
  def emergingHotspots(pts: DataFrame, pitch: Long,
                       tbSize: Long): DataFrame = {
    val mk = mannKendallCells(pts, pitch, tbSize)
    val binned = pts.select(expr(s"px div $pitch").as("gi"),
        expr(s"py div $pitch").as("gj"),
        expr(s"t div $tbSize").as("tb"))
      .groupBy("gi", "gj", "tb").agg(count(lit(1)).as("c"))
    val tbMax = binned.agg(max("tb").as("tbm"))
    val last = binned.join(broadcast(tbMax), col("tb") === col("tbm"))
      .select("gi", "gj", "c")
    val nsum = neighbourSum(last, "c")
    val glob = last.agg(sum("c").as("tot"), count(lit(1)).as("ncl"))
    val hotCells = nsum.crossJoin(broadcast(glob))
      .select(col("gi"), col("gj"),
        (col("nsum") * col("ncl") > col("tot") * lit(9L)).as("hot"))
    mk.join(hotCells, Seq("gi", "gj"), "left")
      .withColumn("hot", coalesce(col("hot"), lit(false)))
      .select(col("gi"), col("gj"), col("n_events"), col("s_stat"),
        col("hot").cast("long").as("hot"),
        when(col("hot") && col("s_stat") > 0, "intensifying")
          .when(col("hot") && col("s_stat") === 0, "persistent")
          .when(col("hot"), "diminishing")
          .when(col("s_stat") > 0, "emerging")
          .otherwise("none").as("cls"))
  }

  /** Per-cell dyadic EWMA anomaly scan over daily event counts — the
    * burst detector next to [[emergingHotspots]]: each cell's daily
    * count series x_t (t = day index within the trailing `window`
    * days, zero-initialized s_0 = 0) is smoothed by the α = ½ EWMA
    * s_t = (s_{t−1} + x_t) / 2, which has the EXACT closed form
    * 2^t·s_t = Σ_{i≤t} 2^{i−1}·x_i — a plain windowed sum of
    * 2^{idx−1}·x with calendar-absolute weights, so GAP DAYS (x = 0)
    * contribute nothing and need no densification. A day is anomalous
    * when x_t > 6·s_{t−1}, stated integer-exactly as
    * 2^{t−1}·x_t > 6·(T_{t−1}) with T the scaled running sum.
    *
    * Overflow bound: weights ≤ 2^{window−1}, so window = 30 keeps
    * T ≤ 30·2^29·max-daily-count — Long-safe to ~5·10⁸ events per
    * cell-day. Scale posture: one (cell, day) count aggregate
    * (map-side combined), one broadcast max-day, then a per-cell
    * window over ≤ `window` rows — never a global sort.
    *
    * Input: (px, py, t). Returns (gi, gj, day, x, ewma_milli, anom)
    * for each ACTIVE cell-day in the trailing window. */
  def ewmaAnomaly(pts: DataFrame, pitch: Long, tbSize: Long,
                  window: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = pts.select(expr(s"px div $pitch").as("gi"),
        expr(s"py div $pitch").as("gj"),
        expr(s"t div $tbSize").as("day"))
      .groupBy("gi", "gj", "day").agg(count(lit(1)).as("x"))
    val mx = binned.agg(max("day").as("mxd"))
    val recent = binned.crossJoin(broadcast(mx))
      .where(col("day") > col("mxd") - window)
      .withColumn("idx", col("day") - (col("mxd") - window))
    val wN = Window.partitionBy("gi", "gj").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    recent
      .withColumn("wgt",
        expr("shiftleft(cast(1 as bigint), cast(idx - 1 as int))"))
      .withColumn("tt", sum(col("x") * col("wgt")).over(wN))
      .select(col("gi"), col("gj"), col("day"), col("x"),
        Tiling.idiv(col("tt") * 1000L,
          expr("shiftleft(cast(1 as bigint), cast(idx as int))"))
          .as("ewma_milli"),
        (col("x") * col("wgt") >
          (col("tt") - col("x") * col("wgt")) * 6L)
          .cast("long").as("anom"))
  }

  /** BIVARIATE COLOCATION counts (cross-K / colocation-rule pieces,
    * Shekhar & Huang SSTD 2001): between point sets A and B, for each
    * radius r: n_pairs = |{(a,b): d²(a,b) ≤ r²}| and the PARTICIPATION
    * counts n_a / n_b = how many distinct A- (B-) points have a
    * partner within r — the numerators of the participation ratios
    * that define colocation prevalence. Exact integers.
    *
    * One banded A×B join at the coarsest radius (A explodes its 3×3
    * cell ring at pitch rmax, B keys its own cell — each (a,b) pair
    * meets exactly once, never all-pairs); every radius counts from
    * that one candidate set. Input: both (id, px, py). Returns
    * (r, n_pairs, n_a, n_b) per radius. */
  def colocationCounts(ptsA: DataFrame, ptsB: DataFrame,
                       radii: Seq[Long]): DataFrame = {
    val rmax = radii.max
    val cand = ringJoin(
        ptsA.select(col("id").as("ia"), col("px").as("xa"), col("py").as("ya")),
        ptsB.select(col("id").as("ib"), col("px").as("xb"), col("py").as("yb")),
        rmax)
      .select("ia", "ib", "d2")
    val sp = ptsA.sparkSession
    import sp.implicits._
    cand.crossJoin(broadcast(radii.toDF("r")))
      .groupBy("r").agg(
        sum(when(col("d2") <= col("r") * col("r"), 1L)
          .otherwise(0L)).as("n_pairs"),
        countDistinct(when(col("d2") <= col("r") * col("r"),
          col("ia"))).as("n_a"),
        countDistinct(when(col("d2") <= col("r") * col("r"),
          col("ib"))).as("n_b"))
  }

  /** NEAREST-FACILITY (Voronoi) assignment census: every point is
    * assigned to its nearest site by exact integer d², ties to the
    * smallest site id — the discrete Voronoi partition / service-area
    * primitive. The site table is small by construction (facilities,
    * not points), so it BROADCASTS: the per-point argmin is a
    * map-side `min(struct(d2, sid))` (lexicographic struct order ==
    * (distance, id) tie rule), partially aggregated before the only
    * shuffle, which carries one row per point. Returns per-site
    * (sid, n_pts, d2_sum). Input pts (id, px, py), sites
    * (sid, sx, sy). */
  def nearestFacility(pts: DataFrame, sites: DataFrame): DataFrame = {
    val d2 = (col("px") - col("sx")) * (col("px") - col("sx")) +
      (col("py") - col("sy")) * (col("py") - col("sy"))
    pts.crossJoin(broadcast(sites))
      .select(col("id"),
        struct(d2.as("d2"), col("sid").as("sid")).as("c"))
      .groupBy("id").agg(min("c").as("c"))
      .groupBy(col("c.sid").as("sid"))
      .agg(count(lit(1)).as("n_pts"), sum("c.d2").as("d2_sum"))
  }

  /** KERNEL-DENSITY HEATMAP with the Epanechnikov kernel stated in
    * pure integers: each point contributes weight r² − d² to every
    * cell CENTER within distance r (cells at pitch r, centers at
    * gi·r + r/2) — the unnormalized KDE surface (the analyst's
    * 1/(n·r²·c) normalization is one divide away and keeps the gate
    * integer). A point's reachable centers all lie in its 3×3 cell
    * ring (|px − center| ≤ r ⇒ |gi − cx| ≤ 1 for in-cell offset
    * f ∈ [0,r)), so the op is explode-9 → filter → one
    * map-side-combined aggregate on ≤ 9·n rows. No pair join at all.
    * Input (px, py). Returns (gi, gj, n_pts, density). */
  def kdeHeatmap(pts: DataFrame, r: Long): DataFrame = {
    val half = r / 2
    val p = withRing(pts.select(col("px"), col("py"),
        expr(s"px div $r").as("cx"), expr(s"py div $r").as("cy")),
      "cx", "cy", "gi", "gj")
    val dxc = col("px") - (col("gi") * r + half)
    val dyc = col("py") - (col("gj") * r + half)
    val d2 = dxc * dxc + dyc * dyc
    p.where(d2 <= lit(r * r))
      .groupBy("gi", "gj")
      .agg(count(lit(1)).as("n_pts"),
        sum(lit(r * r) - d2).as("density"))
  }

  /** MAP-MATCHING SNAP: assign each point to its NEAREST segment
    * within radius r — the nearest-road primitive of trajectory map
    * matching. Point-to-segment squared distance is kept as the EXACT
    * RATIONAL num/den (interior case: cross²/|AB|²; endpoint cases:
    * integer d² over den=1 — Long-safe given r, |AB| ≤ 2¹⁰ and
    * coords < 2¹³: num·den' < 2⁶³ for every comparison below).
    * The argmin is a LEFT ANTI self-join on the candidate set — keep
    * a candidate iff NO candidate for the same point is strictly
    * nearer by the cross-multiplied rational order (num'·den <
    * num·den'), ties broken to the smallest sid. No floats anywhere.
    *
    * Banding: segments explode the cover cells of their r-PADDED bbox
    * at `pitch` (bounded: ≤⌈(|AB|+2r)/pitch+1⌉² cells); points join
    * on their own cell, so every (point, segment) pair within r meets
    * exactly once — the candidate set per point is road-density-
    * bounded, and the anti-join is quadratic only in that small
    * per-point candidate count. Input pts (id, px, py), segs
    * (sid, ax, ay, bx, by), all coords ≥ 0.
    * Returns (id, sid, num, den) — one row per MATCHED point. */
  def snapToSegments(pts: DataFrame, segs: DataFrame, pitch: Long,
                     r: Long): DataFrame = {
    val roads = segs
      .withColumn("x0", least(col("ax"), col("bx")) - r)
      .withColumn("x1", greatest(col("ax"), col("bx")) + r)
      .withColumn("y0", least(col("ay"), col("by")) - r)
      .withColumn("y1", greatest(col("ay"), col("by")) + r)
      .withColumn("cx", explode(sequence(expr(s"x0 div $pitch"),
        expr(s"x1 div $pitch"))))
      .withColumn("cy", explode(sequence(expr(s"y0 div $pitch"),
        expr(s"y1 div $pitch"))))
      .select(col("cx"), col("cy"), col("sid"),
        col("ax"), col("ay"), col("bx"), col("by"))
    val p = pts.select(col("id"), col("px"), col("py"),
      expr(s"px div $pitch").as("cx"), expr(s"py div $pitch").as("cy"))
    val abx = col("bx") - col("ax"); val aby = col("by") - col("ay")
    val apx = col("px") - col("ax"); val apy = col("py") - col("ay")
    val bpx = col("px") - col("bx"); val bpy = col("py") - col("by")
    val dd = abx * abx + aby * aby
    val tnum = apx * abx + apy * aby
    val cross = apx * aby - apy * abx
    val num = when(tnum <= 0, apx * apx + apy * apy)
      .when(tnum >= dd, bpx * bpx + bpy * bpy)
      .otherwise(cross * cross)
    val den = when(tnum <= 0 || tnum >= dd, lit(1L)).otherwise(dd)
    val cand = p.join(roads, Seq("cx", "cy"))
      .select(col("id"), col("sid"), num.as("num"), den.as("den"))
      .where(col("num") <= lit(r * r) * col("den"))
    val rival = cand.select(col("id").as("id2"), col("sid").as("sid2"),
      col("num").as("num2"), col("den").as("den2"))
    cand.join(rival,
      col("id") === col("id2") &&
        (col("num2") * col("den") < col("num") * col("den2") ||
          (col("num2") * col("den") === col("num") * col("den2") &&
            col("sid2") < col("sid"))), "left_anti")
  }

  /** KNOX space-time interaction counts (Knox 1964, the classic
    * epidemiology cluster statistic): over all unordered point pairs,
    * n_s = pairs within distance s (d² ≤ s², exact integers), n_t =
    * pairs within time window τ (|Δt| ≤ τ), n_st = pairs close in
    * BOTH — the 2×2 contingency pieces of the Knox test (the z-score
    * follows from these plus n·(n−1)/2, all integers).
    *
    * Sub-quadratic on both axes: space pairs come from an s-pitch
    * cell equi-join (probe side explodes its 3×3 neighborhood, the
    * base side keys its own cell, so each i<j pair meets exactly
    * once); time pairs from a τ-pitch bucket equi-join (probe
    * explodes buckets b−1,b,b+1). No all-pairs anywhere. Input:
    * (id, px, py, t). Returns one row
    * (n_pts, n_space, n_time, n_st). */
  def knoxCounts(pts: DataFrame, s: Long, tau: Long): DataFrame = {
    val base = pts.select(col("id"), col("t"), expr(s"t div $tau").as("tb"))
    val spacePairs = ringJoin(
        pts.select(col("id").as("ia"), col("px").as("xa"), col("py").as("ya"),
          col("t").as("ta")),
        pts.select(col("id").as("ib"), col("px").as("xb"), col("py").as("yb"),
          col("t").as("tbs")),
        s)
      .where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), col("ta"), col("tbs"))
    val timeProbe = base
      .withColumn("ntb", explode(sequence(col("tb") - 1, col("tb") + 1)))
      .select(col("id").as("ia"), col("t").as("ta"), col("ntb").as("tb"))
    val timePairs = timeProbe.join(base.select(col("id").as("ib"),
        col("t").as("tbs"), col("tb")), Seq("tb"))
      .where(col("ia") < col("ib") &&
        abs(col("ta") - col("tbs")) <= lit(tau))
    val nS = spacePairs.agg(
      count(lit(1)).as("n_space"),
      sum(when(abs(col("ta") - col("tbs")) <= lit(tau), 1L)
        .otherwise(0L)).as("n_st"))
    val nT = timePairs.agg(count(lit(1)).as("n_time"))
    val nP = base.agg(count(lit(1)).as("n_pts"))
    nP.crossJoin(nS).crossJoin(nT)
      .select(col("n_pts"), col("n_space"), col("n_time"), col("n_st"))
  }

  /** COVERAGE (union) AREA of pad-buffered footprints per coarse grid
    * cell — Bentley's slab-decomposition union-area (Bentley 1977),
    * grid-partitioned: because the coarse cells PARTITION the plane,
    * the union area of the rect set equals the sum over cells of the
    * union area of the rects CLIPPED to that cell, so the whole
    * computation is embarrassingly parallel on the cell key with no
    * global sweep. Within a cell: x-slabs from the distinct clipped
    * x-bounds (LEAD window), rects joined to the slabs they span
    * (cell equi-join + range filter — never a BNLJ), and per slab the
    * union of y-intervals via the classic running-max island walk
    * (an interval starts a new island iff its y0 clears every prior
    * y1; island length = max(y1) − min(y0)). Boxes are half-open
    * [x0,x1)×[y0,y1), all arithmetic integer (mdeg²). Returns one row
    * per non-empty coarse cell: (ci, cj, n_rects, area). */
  def coverageArea(images: DataFrame, pad: Long, cell: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = images.select(col("k"),
      (col("x0m") - pad + CellGrid.OffX).as("gx0"),
      (col("x1m") + pad + CellGrid.OffX).as("gx1"),
      (col("y0m") - pad + CellGrid.OffY).as("gy0"),
      (col("y1m") + pad + CellGrid.OffY).as("gy1"))
    val clipped = r
      .withColumn("ci", explode(sequence(expr(s"gx0 div $cell"),
        expr(s"(gx1 - 1) div $cell"))))
      .withColumn("cj", explode(sequence(expr(s"gy0 div $cell"),
        expr(s"(gy1 - 1) div $cell"))))
      .select(col("k"), col("ci"), col("cj"),
        greatest(col("gx0"), col("ci") * cell).as("cx0"),
        least(col("gx1"), (col("ci") + 1) * cell).as("cx1"),
        greatest(col("gy0"), col("cj") * cell).as("cy0"),
        least(col("gy1"), (col("cj") + 1) * cell).as("cy1"))
    val bounds = clipped.select(col("ci"), col("cj"), col("cx0").as("bx"))
      .unionAll(clipped.select(col("ci"), col("cj"), col("cx1").as("bx")))
      .distinct()
    val slabs = bounds
      .withColumn("sx1", lead(col("bx"), 1)
        .over(Window.partitionBy("ci", "cj").orderBy("bx")))
      .where(col("sx1").isNotNull)
      .select(col("ci"), col("cj"), col("bx").as("sx0"), col("sx1"))
    val j = slabs.join(clipped, Seq("ci", "cj"))
      .where(col("cx0") <= col("sx0") && col("cx1") >= col("sx1"))
      .select(col("ci"), col("cj"), col("sx0"), col("sx1"),
        col("cy0"), col("cy1"), col("k"))
    val ord = Window.partitionBy("ci", "cj", "sx0")
      .orderBy(col("cy0"), col("cy1"), col("k"))
    val isl = j
      .withColumn("isn", when(col("cy0") > coalesce(
        max(col("cy1")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("isn"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grp = isl.groupBy("ci", "cj", "sx0", "island")
      .agg(max(col("sx1")).as("sx1"),
        (max(col("cy1")) - min(col("cy0"))).as("ylen"))
    val area = grp.groupBy("ci", "cj")
      .agg(sum(col("ylen") * (col("sx1") - col("sx0"))).as("area"))
    clipped.groupBy("ci", "cj").agg(count(lit(1)).as("n_rects"))
      .join(area, Seq("ci", "cj"))
      .select(col("ci"), col("cj"), col("n_rects"), col("area"))
  }

  /** Spatial autocorrelation over the proximity graph (Moran 1950 /
    * Cliff & Ord join-count statistics), stated in EXACT integers:
    * with attribute x_i per image, n images and S = Σx, the n-scaled
    * deviation d_i = n·x_i − S is an integer, so Moran's I numerator
    * Σ_{edges} d_a·d_b and denominator Σ d_i² are exact (the float
    * I = (n/W)·num/den is the caller's one divide). Join counts use
    * the binary attribute b_i: BB / WW / BW edge tallies — the
    * classic test for spatial clustering of a categorical variable.
    *
    * Scale posture: the edge list comes from the covering-cell
    * proximity join (never all-pairs); the attribute join is two
    * hash joins on the node key; everything after is one global
    * aggregate with map-side partials. Returns one row:
    * (n_nodes, n_edges, num, den, jbb, jww, jbw). */
  def moranStats(images: DataFrame, pad: Long, res: Int = 7): DataFrame = {
    val attr = images.select(col("k"),
      (col("k") % 7).as("x"), (col("k") % 2).as("b"))
    val tot = attr.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = attr.crossJoin(broadcast(tot))
      .select(col("k"), (col("n") * col("x") - col("sx")).as("d"),
        col("b"), col("n"))
    val edges = proximityEdges(images, pad, res)
    val ej = edges
      .join(dev.select(col("k").as("ka"), col("d").as("da"),
        col("b").as("ba")), Seq("ka"))
      .join(dev.select(col("k").as("kb"), col("d").as("db"),
        col("b").as("bb")), Seq("kb"))
    val edgeAgg = ej.agg(
      count(lit(1)).as("n_edges"),
      coalesce(sum(col("da") * col("db")), lit(0L)).as("num"),
      coalesce(sum(when(col("ba") === 1 && col("bb") === 1, 1L)
        .otherwise(0L)), lit(0L)).as("jbb"),
      coalesce(sum(when(col("ba") === 0 && col("bb") === 0, 1L)
        .otherwise(0L)), lit(0L)).as("jww"),
      coalesce(sum(when(col("ba") =!= col("bb"), 1L)
        .otherwise(0L)), lit(0L)).as("jbw"))
    val nodeAgg = dev.agg(max(col("n")).as("n_nodes"),
      sum(col("d") * col("d")).as("den"))
    nodeAgg.crossJoin(edgeAgg)
      .select(col("n_nodes"), col("n_edges"), col("num"), col("den"),
        col("jbb"), col("jww"), col("jbw"))
  }

  /** Grid-partitioned DBSCAN (Ester et al. 1996) over footprint
    * centroids, stated in exact integers (doubled-coordinate space
    * avoids the /2 centroid divide; `eps` is given in doubled
    * units). The classic scale-out decomposition: points land in an
    * eps-pitch grid, every eps-ball is contained in the 3x3 cell
    * neighborhood, so neighbor pairs come from ONE equi-join of the
    * 9-cell probe expansion against home cells (never all-pairs;
    * each ordered pair is produced exactly once because the
    * neighbor's home cell is unique). Core points (|N_eps| >= minPts
    * counting self) cluster via the large-star/small-star connected
    * components over core-core edges (cluster id = min core id);
    * border points attach to the MIN cluster among their core
    * neighbors (deterministic where classic DBSCAN is
    * order-dependent); the rest is noise.
    *
    * Scale posture: the probe side fans out 9x before one hash
    * shuffle on the grid key; neighbor counts partial-aggregate
    * map-side; CC converges in log rounds (one checkpointed job per
    * round). Dense-cell skew lands on single grid keys — the same
    * AQE skew-split + salting story as the covering-cell joins.
    * Returns one row per point: (k, role 2=core/1=border/0=noise,
    * cluster = min core id of the component, -1 for noise). */
  def dbscanGrid(images: DataFrame, eps: Long, minPts: Int): DataFrame = {
    val pts = images.select(col("k"),
      (col("x0m") + col("x1m") + lit(2L * CellGrid.OffX)).as("qx"),
      (col("y0m") + col("y1m") + lit(2L * CellGrid.OffY)).as("qy"))
    val pairs = ringJoin(
        pts.select(col("k").as("ka"), col("qx").as("xa"), col("qy").as("ya")),
        pts.select(col("k").as("kb"), col("qx").as("xb"), col("qy").as("yb")),
        eps)
      .where(col("ka") =!= col("kb"))
      .select("ka", "kb")
    val nbrs = pairs.groupBy("ka").agg(count(lit(1)).as("nn"))
    val cores = pts.select(col("k"))
      .join(nbrs.select(col("ka").as("k"), col("nn")), Seq("k"), "left")
      .where(coalesce(col("nn"), lit(0L)) + 1 >= minPts)
      .select("k")
    val ccPairs = pairs.where(col("ka") < col("kb"))
      .join(cores.select(col("k").as("ka")), Seq("ka"))
      .join(cores.select(col("k").as("kb")), Seq("kb"))
      .select(col("ka").as("id_a"), col("kb").as("id_b"))
    val comp = graft.graph.ConnectedComponents.components(cores, ccPairs)
    val borderClu = pairs
      .join(comp.select(col("id").as("kb"), col("comp")), Seq("kb"))
      .join(comp.select(col("id").as("ka")), Seq("ka"), "left_anti")
      .groupBy("ka").agg(min(col("comp")).as("cluster"))
    val labeled = comp.select(col("id").as("k"), lit(2L).as("role"),
        col("comp").as("cluster"))
      .unionAll(borderClu.select(col("ka").as("k"), lit(1L).as("role"),
        col("cluster")))
    pts.select("k").join(labeled, Seq("k"), "left")
      .select(col("k"), coalesce(col("role"), lit(0L)).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  /** Vector→raster polygon burn (the inverse of blob polygonize; GDAL
    * `RasterizeLayer` parity, reference vector surface
    * `/root/reference/GIP/GeoVectorResource.cpp`): each feature
    * enumerates ONLY its own bbox cells at `cellM` resolution, keeps
    * cells whose CENTER ray-casts inside the WKT ring
    * (Geom.pointInPolygon — same half-open edge behavior the zonal
    * gates pin), and overlapping features resolve last-writer-wins by
    * MAX(fid) (deterministic overlay order). Returns the per-feature
    * owned-cell census (n_owned, Σcx, Σcy).
    *
    * Scale posture: work per feature is bounded by its area/cellM² (no
    * cross join, no global grid materialization); the two shuffles key
    * on cell then fid — both bounded. A continent-sized feature would
    * be pre-split by bbox tiling before the explode; the synth layer's
    * features are city-sized. */
  def rasterizeBurn(polys: DataFrame, cellM: Long = 1000L): DataFrame = {
    val cellsU = udf((wkt: String) => {
      val (rx, ry) = Geom.parsePolygonWkt(wkt)
      // conservative integer-meter bbox (float round-trip can only
      // widen it by 1 m; the PIP test decides the boundary cells)
      val x0 = math.floor(rx.min * 1000).toLong
      val x1 = math.ceil(rx.max * 1000).toLong
      val y0 = math.floor(ry.min * 1000).toLong
      val y1 = math.ceil(ry.max * 1000).toLong
      val half = cellM / 2
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
      var cy = Math.floorDiv(y0, cellM)
      while (cy <= Math.floorDiv(y1, cellM)) {
        var cx = Math.floorDiv(x0, cellM)
        while (cx <= Math.floorDiv(x1, cellM)) {
          if (Geom.pointInPolygon((cx * cellM + half) / 1000.0,
            (cy * cellM + half) / 1000.0, rx, ry)) out += ((cx, cy))
          cx += 1
        }
        cy += 1
      }
      out.toSeq
    })
    polys.select(col("fid"), explode(cellsU(col("geom_wkt"))).as("c"))
      .select(col("fid"), col("c._1").as("cx"), col("c._2").as("cy"))
      .groupBy("cx", "cy").agg(max("fid").as("fid"))
      .groupBy("fid")
      .agg(count(lit(1)).as("n_owned"), sum("cx").as("cx_sum"),
        sum("cy").as("cy_sum"))
  }
}
