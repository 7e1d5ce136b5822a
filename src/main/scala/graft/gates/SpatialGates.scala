package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.gen.OracleCte.{DemCte, MannKendallCte, Md5BucketSql, Pipe,
  ProximityOn, SimgCte, StripeMaskSelect, TokCte, TrendValue, UserTracksCte,
  bandParams => B, eventPxPy, hx, images => I, pixelGen => PxCte,
  polygons => P}
import graft.index.CellGrid
import graft.ops.{Mosaic, SpatialJoin, Stats, Tiling}

/** The spatial gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object SpatialGates {

  private def overlapArea =
    (least(col("x1m"), col("px1m")) - greatest(col("x0m"), col("px0m"))) *
    (least(col("y1m"), col("py1m")) - greatest(col("y0m"), col("py0m")))

  /** Deterministic tracked-object detection fixture: 6 objects per
    * video (k < 300), each a ≥512-px box with per-frame drift
    * |dx|,|dy| ≤ 30 (so consecutive-frame IoU of the SAME object is
    * ≈0.9, well over the τ=0.5 link threshold) visible over frames
    * fb..fe ⊂ [0,3] (births and deaths mid-sequence). Mirrored
    * verbatim by the trkCteSql oracle. */
  private def synthTrackDets(s: SparkSession, dir: String): DataFrame = {
    import graft.sketch.Cms.hexVal
    val hm = md5(concat(col("image_id"), lit(":trk"),
      col("o").cast("string")))
    def hv(p: Int) = hexVal(hm, p).cast("long")
    Synth.images(s, dir).where(col("k") < 300)
      .select(col("image_id"),
        explode(sequence(lit(0), lit(5))).as("o"))
      .withColumn("x0", hv(1) * 256 + hv(2) * 16 + hv(3))
      .withColumn("y0", hv(4) * 256 + hv(5) * 16 + hv(6))
      .withColumn("bw", lit(512L) + hv(7) * 16 + hv(8))
      .withColumn("bh", lit(512L) + hv(9) * 16 + hv(10))
      .withColumn("dx", hv(11) * 4 - 30)
      .withColumn("dy", hv(12) * 4 - 30)
      .withColumn("fb", hv(13) % 2)
      .withColumn("fe", lit(2L) + hv(14) % 2)
      .withColumn("f", explode(sequence(col("fb").cast("int"),
        col("fe").cast("int"))))
      .withColumn("f", col("f").cast("long"))
      .withColumn("box_id", col("o").cast("long"))
      .withColumn("x1", col("x0") + col("f") * col("dx"))
      .withColumn("y1", col("y0") + col("f") * col("dy"))
      .withColumn("x2", col("x1") + col("bw"))
      .withColumn("y2", col("y1") + col("bh"))
      .select("image_id", "f", "box_id", "x1", "y1", "x2", "y2")
  }

  private val joinCte =
    s"""j AS (
       |  SELECT i.image_id, p.fid, i.x0m, i.y0m, i.x1m, i.y1m,
       |         p.px0m, p.py0m, p.px1m, p.py1m,
       |         (LEAST(i.x1m,p.px1m) - GREATEST(i.x0m,p.px0m)) *
       |         (LEAST(i.y1m,p.py1m) - GREATEST(i.y0m,p.py0m)) AS overlap_area
       |  FROM img2 i JOIN poly2 p
       |    ON i.x0m < p.px1m AND p.px0m < i.x1m
       |   AND i.y0m < p.py1m AND p.py0m < i.y1m)""".stripMargin

  /** IoU-tracker ground truth: mirrors [[synthTrackDets]] (object
    * motion fixture) then mutual-argmax linking + 3-step origin walk. */
  private def trackOracleSql: String =
    s"""WITH $I,
       |trk0 AS (SELECT k, image_id, CAST(sl.o AS BIGINT) AS o,
       |    md5(image_id ${Pipe}${Pipe} ':trk' ${Pipe}${Pipe}
       |        CAST(sl.o AS VARCHAR)) AS hm
       |  FROM img2 CROSS JOIN
       |    (SELECT unnest(generate_series(0, 5)) AS o) sl
       |  WHERE k < 300),
       |trk1 AS (SELECT k, image_id, o AS box_id,
       |    CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
       |      + ${hx("hm", 3)} AS BIGINT) AS x0,
       |    CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
       |      + ${hx("hm", 6)} AS BIGINT) AS y0,
       |    CAST(512 + ${hx("hm", 7)}*16 + ${hx("hm", 8)} AS BIGINT) AS bw,
       |    CAST(512 + ${hx("hm", 9)}*16 + ${hx("hm", 10)} AS BIGINT) AS bh,
       |    CAST(${hx("hm", 11)}*4 - 30 AS BIGINT) AS dx,
       |    CAST(${hx("hm", 12)}*4 - 30 AS BIGINT) AS dy,
       |    CAST(${hx("hm", 13)} % 2 AS BIGINT) AS fb,
       |    CAST(2 + ${hx("hm", 14)} % 2 AS BIGINT) AS fe
       |  FROM trk0),
       |trk AS (SELECT k, image_id, box_id, CAST(fr.f AS BIGINT) AS f,
       |    x0 + fr.f*dx AS x1, y0 + fr.f*dy AS y1,
       |    x0 + fr.f*dx + bw AS x2, y0 + fr.f*dy + bh AS y2
       |  FROM trk1 CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(CAST(fb AS INT),
       |       CAST(fe AS INT))) AS f) fr),
       |tpp AS (SELECT a.k, a.f AS af, a.box_id AS abox,
       |    b.f AS bf, b.box_id AS bbox,
       |    GREATEST(0, LEAST(a.x2, b.x2) - GREATEST(a.x1, b.x1)) *
       |    GREATEST(0, LEAST(a.y2, b.y2) - GREATEST(a.y1, b.y1)) AS inter,
       |    (a.x2-a.x1)*(a.y2-a.y1) + (b.x2-b.x1)*(b.y2-b.y1) AS ar2
       |  FROM trk a JOIN trk b ON b.k = a.k AND b.f = a.f + 1),
       |tpq AS (SELECT k, af, abox, bf, bbox,
       |    CASE WHEN ar2 - inter <= 0 THEN 0
       |         ELSE (inter * 1048576) // (ar2 - inter) END AS q
       |  FROM tpp),
       |tpf AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY k, af, abox
       |      ORDER BY q DESC, bbox) AS ra,
       |    ROW_NUMBER() OVER (PARTITION BY k, bf, bbox
       |      ORDER BY q DESC, abox) AS rb
       |  FROM tpq WHERE q > 524288),
       |tln AS (SELECT k, af, abox, bf, bbox FROM tpf
       |  WHERE ra = 1 AND rb = 1),
       |tl0 AS (SELECT k, image_id, f, box_id, f AS o_f, box_id AS o_b
       |  FROM trk),
       |tl1 AS (SELECT d.k, d.image_id, d.f, d.box_id,
       |    COALESCE(l.af, d.o_f) AS o_f, COALESCE(l.abox, d.o_b) AS o_b
       |  FROM tl0 d LEFT JOIN tln l ON l.k = d.k AND l.bf = d.o_f
       |    AND l.bbox = d.o_b),
       |tl2 AS (SELECT d.k, d.image_id, d.f, d.box_id,
       |    COALESCE(l.af, d.o_f) AS o_f, COALESCE(l.abox, d.o_b) AS o_b
       |  FROM tl1 d LEFT JOIN tln l ON l.k = d.k AND l.bf = d.o_f
       |    AND l.bbox = d.o_b),
       |tl3 AS (SELECT d.k, d.image_id, d.f, d.box_id,
       |    COALESCE(l.af, d.o_f) AS o_f, COALESCE(l.abox, d.o_b) AS o_b
       |  FROM tl2 d LEFT JOIN tln l ON l.k = d.k AND l.bf = d.o_f
       |    AND l.bbox = d.o_b)
       |SELECT image_id, f, box_id, o_f AS tr_f, o_b AS tr_box
       |FROM tl3 ORDER BY 1, 2, 3""".stripMargin

  /** Unrolled Hilbert xy2d rounds (mirrors SpatialJoin.hilbertKey
    * div/mod arithmetic exactly): CTEs hp1..hp{order} chained from
    * hp0(hx0, hy0, x, y, d). */
  private def hilbertRoundsSql(order: Int): String =
    (order - 1 to 0 by -1).zipWithIndex.map { case (i, idx) =>
      val s = 1L << i; val nm1 = (1L << order) - 1
      s"hp${idx + 1} AS (SELECT hx0, hy0, " +
        s"CASE WHEN (y//$s)%2 = 0 THEN (CASE WHEN (x//$s)%2 = 1 " +
        s"THEN $nm1 - y ELSE y END) ELSE x END AS x, " +
        s"CASE WHEN (y//$s)%2 = 0 THEN (CASE WHEN (x//$s)%2 = 1 " +
        s"THEN $nm1 - x ELSE x END) ELSE y END AS y, " +
        s"d + ${s * s} * (3*((x//$s)%2) + (y//$s)%2 " +
        s"- 2*((x//$s)%2)*((y//$s)%2)) AS d FROM hp$idx)"
    }.mkString(",\n")

  /** Morton key as one div/mod expression over original coords. */
  private def mortonSql(xc: String, yc: String, order: Int): String =
    (0 until order).map { i =>
      val s = 1L << i
      s"${s * s}*(($xc//$s)%2 + 2*(($yc//$s)%2))"
    }.mkString(" + ")

  /** Fixed DTW reference path (q_dtw / q_frechet / q_hausdorff): 6
    * points spanning the 12-bit md5 coordinate space, identical
    * literals both engines. */
  private val DtwRefX = Seq(512L, 1024L, 2048L, 2560L, 3072L, 3584L)
  private val DtwRefY = Seq(3584L, 2560L, 2048L, 1024L, 768L, 256L)

  /** Track fixture of the DTW-family gates: each user's first 24
    * events. */
  private def dtwTrackPts(s: SparkSession, dir: String): DataFrame =
    Synth.eventTracks(s, dir, 30).where(col("idx") < 24)

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    Gate("q_images_meta", (s, dir) =>
      Synth.images(s, dir)
        .select(col("image_id"), col("w"), col("h"), col("fmt"), col("nw"),
          col("caption"), col("x0m"), col("y0m"), col("x1m"), col("y1m"))
        .orderBy("image_id"),
      Some(s"""WITH $I
         |SELECT image_id, w, h, fmt, nw, caption, x0m, y0m, x1m, y1m
         |FROM img2 ORDER BY image_id""".stripMargin)),

    Gate("q_cells_cover", (s, dir) =>
      SpatialJoin.withCoverCells(Synth.images(s, dir), Synth.JoinRes, "x0m", "y0m", "x1m", "y1m")
        .select(col("image_id"), col("cix"), col("ciy"),
          (lit(Synth.JoinRes.toLong * CellGrid.ResMul) +
           col("cix") * CellGrid.IxMul + col("ciy")).as("cell_id"))
        .orderBy("image_id", "cell_id"),
      Some(s"""WITH $I,
         |c AS (SELECT image_id,
         |  (x0m+180000)//4096 AS ix0, (x1m-1+180000)//4096 AS ix1,
         |  (y0m+90000)//4096 AS iy0, (y1m-1+90000)//4096 AS iy1 FROM img2)
         |SELECT image_id, cix, ciy,
         |       7*1125899906842624 + cix*33554432 + ciy AS cell_id
         |FROM c
         |CROSS JOIN LATERAL (SELECT unnest(generate_series(ix0, ix1)) AS cix) a
         |CROSS JOIN LATERAL (SELECT unnest(generate_series(iy0, iy1)) AS ciy) b
         |ORDER BY image_id, cell_id""".stripMargin)),

    // z-order layout keys at res 10 (Morton interleave of the
    // min-corner cell) — the spatial-clustering write key
    Gate("q_zorder", (s, dir) =>
      SpatialJoin.zOrdered(Synth.images(s, dir), 10)
        .select("image_id", "zix", "ziy", "z")
        .orderBy("z", "image_id"),
      // identical 40-term interleave sum replayed in SQL
      Some {
      val zTerms = (0 until 20).map(b =>
        s"(((zix >> $b) & 1) << ${2 * b + 1}) + " +
          s"(((ziy >> $b) & 1) << ${2 * b})").mkString(" + ")
      s"""WITH $I,
         |c AS (SELECT image_id,
         |  CAST((x0m+180000)//512 AS BIGINT) AS zix,
         |  CAST((y0m+90000)//512 AS BIGINT) AS ziy FROM img2)
         |SELECT image_id, zix, ziy, CAST($zTerms AS BIGINT) AS z
         |FROM c ORDER BY z, image_id""".stripMargin
    }),

    // standard base-32 geohash (lon-first interleave, 5 bits/char) of
    // the footprint origin, 8 chars + the 4-char prefix (the
    // interoperable cell key alongside Morton/Hilbert) — exact
    // integer bisection bits, pure codegen arithmetic
    Gate("q_geohash", (s, dir) =>
      Synth.images(s, dir)
        .withColumn("gh8",
          SpatialJoin.geohash(col("x0m"), col("y0m"), 8))
        .withColumn("gh4", substring(col("gh8"), 1, 4))
        .select("image_id", "gh8", "gh4")
        .orderBy("image_id"),
      // geohash ground truth: bisection bits = high bits of the scaled
      // integer, 40-bit lon-first interleave, base-32 substr lookup
      Some {
      val gTerms = (0 until 20).map(i =>
        s"(((ul >> ${19 - i}) & 1) << ${39 - 2 * i}) + " +
          s"(((ua >> ${19 - i}) & 1) << ${38 - 2 * i})").mkString(" + ")
      val gChars = (0 until 8).map(j =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
          s"CAST(((g >> ${35 - 5 * j}) & 31) + 1 AS INT), 1)")
        .mkString("concat(", ", ", ")")
      s"""WITH $I,
         |c AS (SELECT image_id,
         |  ((x0m+180000)*1048576)//360000 AS ul,
         |  ((y0m+90000)*1048576)//180000 AS ua FROM img2),
         |g AS (SELECT image_id, $gTerms AS g FROM c),
         |o AS (SELECT image_id, $gChars AS gh8 FROM g)
         |SELECT image_id, gh8, substr(gh8, 1, 4) AS gh4
         |FROM o ORDER BY image_id""".stripMargin
    }),

    // Bing-maps quadkey of the footprint origin tile (pitch 4096
    // mdeg, 7 levels): the XYZ tile-pyramid serving key — a parent
    // tile's key is its children's string PREFIX (qk4 = the level-4
    // ancestor), pure codegen base-4 interleave, no UDF
    Gate("q_quadkey", (s, dir) =>
      Synth.images(s, dir)
        .withColumn("tx", expr("CAST((x0m + 150000) div 4096 AS BIGINT)"))
        .withColumn("ty", expr("CAST((y0m + 60000) div 4096 AS BIGINT)"))
        .withColumn("qk7", SpatialJoin.quadkey(col("tx"), col("ty"), 7))
        .withColumn("qk4", substring(col("qk7"), 1, 4))
        .select("image_id", "qk7", "qk4")
        .orderBy("image_id"),
      Some {
      val digits = (0 until 7).map(i =>
        s"CAST(((ty >> ${6 - i}) & 1)*2 + ((tx >> ${6 - i}) & 1)" +
          " AS VARCHAR)").mkString("concat(", ", ", ")")
      s"""WITH $I,
         |t AS (SELECT image_id, (x0m+150000)//4096 AS tx,
         |        (y0m+60000)//4096 AS ty FROM img2),
         |q AS (SELECT image_id, $digits AS qk7 FROM t)
         |SELECT image_id, qk7, substr(qk7, 1, 4) AS qk4
         |FROM q ORDER BY image_id""".stripMargin
    }),

    // tile-pyramid rollup on the quadkey PREFIX property: per-level-4
    // ancestor tile image counts — one scan + a ≤4^4-key shuffle (the
    // serving-side density summary; corpus-size-independent keyspace)
    Gate("q_quadkey_rollup", (s, dir) =>
      Synth.images(s, dir)
        .withColumn("tx", expr("CAST((x0m + 150000) div 4096 AS BIGINT)"))
        .withColumn("ty", expr("CAST((y0m + 60000) div 4096 AS BIGINT)"))
        .groupBy(substring(SpatialJoin.quadkey(col("tx"), col("ty"), 7),
          1, 4).as("tile"))
        .agg(count(lit(1)).as("n_images"))
        .orderBy("tile"),
      Some {
      val digits = (0 until 7).map(i =>
        s"CAST(((ty >> ${6 - i}) & 1)*2 + ((tx >> ${6 - i}) & 1)" +
          " AS VARCHAR)").mkString("concat(", ", ", ")")
      s"""WITH $I,
         |t AS (SELECT image_id, (x0m+150000)//4096 AS tx,
         |        (y0m+60000)//4096 AS ty FROM img2),
         |q AS (SELECT image_id, $digits AS qk7 FROM t)
         |SELECT substr(qk7, 1, 4) AS tile,
         |       CAST(COUNT(*) AS BIGINT) AS n_images
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // hierarchical cell-density rollup: one image scan builds the
    // res-10 summary; res-7 derives from it by parent-shift arithmetic
    // alone (shuffle over ≤ #cells rows, corpus-size independent)
    Gate("q_cell_rollup", (s, dir) =>
      SpatialJoin.cellPyramid(Synth.images(s, dir), 10, Synth.JoinRes)
        .orderBy("cell_id"),
      // res-10 cover (cell edge 512 mdeg) → res-7 parent via //8: the
      // nonneg-shifted grid makes >> and // agree
      Some(s"""WITH $I,
         |c AS (SELECT image_id, (x1m-x0m)*(y1m-y0m) AS area,
         |  (x0m+180000)//512 AS ix0, (x1m-1+180000)//512 AS ix1,
         |  (y0m+90000)//512 AS iy0, (y1m-1+90000)//512 AS iy1 FROM img2),
         |f AS (SELECT cix, ciy, CAST(COUNT(*) AS BIGINT) AS n_images,
         |    CAST(SUM(area) AS BIGINT) AS area_sum
         |  FROM c
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(ix0, ix1))
         |    AS cix) a
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(iy0, iy1))
         |    AS ciy) b
         |  GROUP BY 1, 2)
         |SELECT 7*1125899906842624 + (cix//8)*33554432 + (ciy//8)
         |    AS cell_id,
         |  cix//8 AS cix, ciy//8 AS ciy,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(n_images) AS BIGINT) AS n_images,
         |  CAST(SUM(area_sum) AS BIGINT) AS area_sum
         |FROM f GROUP BY 1, 2, 3 ORDER BY cell_id""".stripMargin)),

    Gate("q_spatial_join", (s, dir) =>
      SpatialJoin.joinRects(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes)
        .select(col("image_id"), col("fid"), overlapArea.as("overlap_area"))
        .orderBy("image_id", "fid"),
      Some(s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, overlap_area FROM j
         |ORDER BY image_id, fid""".stripMargin)),

    Gate("q_spatial_join_agg", (s, dir) =>
      SpatialJoin.joinRects(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes)
        .groupBy(col("fid"))
        .agg(count(lit(1)).as("n_images"),
             sum(overlapArea).as("area_sum"))
        .orderBy("fid"),
      Some(s"""WITH $I, $P, $joinCte
         |SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_images,
         |       CAST(SUM(overlap_area) AS BIGINT) AS area_sum
         |FROM j GROUP BY fid ORDER BY fid""".stripMargin)),

    Gate("q_spatial_join_salted", (s, dir) =>
      SpatialJoin.joinRects(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes,
          broadcastPolys = false, salt = 8)
        .select(col("image_id"), col("fid"), overlapArea.as("overlap_area"))
        .orderBy("image_id", "fid"),
      Some(s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, overlap_area FROM j
         |ORDER BY image_id, fid""".stripMargin)),

    // bloom-prefiltered shuffled join: rows identical to
    // q_spatial_join (same oracle), pruning spec-asserted
    Gate("q_spatial_join_bloom", (s, dir) =>
      SpatialJoin.joinRectsBloom(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes)
        .select(col("image_id"), col("fid"), overlapArea.as("overlap_area"))
        .orderBy("image_id", "fid"),
      Some(s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, overlap_area FROM j
         |ORDER BY image_id, fid""".stripMargin)),

    Gate("q_spatial_anti", (s, dir) =>
      SpatialJoin.joinRectsAnti(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes)
        .select(col("image_id")).orderBy("image_id"),
      Some(s"""WITH $I, $P
         |SELECT image_id FROM img2 i
         |WHERE NOT EXISTS (SELECT 1 FROM poly2 p
         |  WHERE i.x0m < p.px1m AND p.px0m < i.x1m
         |    AND i.y0m < p.py1m AND p.py0m < i.y1m)
         |ORDER BY image_id""".stripMargin)),

    Gate("q_tiles", (s, dir) =>
      Tiling.tiles(Synth.images(s, dir), 8192)
        .select(col("image_id"), col("tile_idx"), col("ty0"), col("ty1"),
          col("th"))
        .orderBy("image_id", "tile_idx"),
      Some(s"""WITH $I,
         |t AS (SELECT image_id, h, GREATEST(1, 1024 // w) AS rpt FROM img2),
         |t2 AS (SELECT *, (h + rpt - 1) // rpt AS n_tiles FROM t)
         |SELECT image_id, tile_idx, tile_idx*rpt AS ty0,
         |       LEAST(h, (tile_idx+1)*rpt) AS ty1,
         |       LEAST(h, (tile_idx+1)*rpt) - tile_idx*rpt AS th
         |FROM t2
         |CROSS JOIN LATERAL
         |  (SELECT unnest(generate_series(0, n_tiles-1)) AS tile_idx) g
         |ORDER BY image_id, tile_idx""".stripMargin)),

    Gate("q_tiles_pad", (s, dir) =>
      Tiling.tilesNum(Synth.images(s, dir), 4, padding = 2)
        .select(col("image_id"), col("tile_idx"), col("ty0"), col("ty1"),
          col("pty0"), col("pty1"))
        .orderBy("image_id", "tile_idx"),
      Some(s"""WITH $I,
         |t AS (SELECT image_id, h,
         |        LEAST(h, GREATEST(1, h // 4)) AS rpt FROM img2),
         |t2 AS (SELECT *, (h + rpt - 1) // rpt AS n_tiles FROM t)
         |SELECT image_id, tile_idx, tile_idx*rpt AS ty0,
         |       LEAST(h, (tile_idx+1)*rpt) AS ty1,
         |       GREATEST(0, tile_idx*rpt - 2) AS pty0,
         |       LEAST(h, LEAST(h, (tile_idx+1)*rpt) + 2) AS pty1
         |FROM t2
         |CROSS JOIN LATERAL
         |  (SELECT unnest(generate_series(0, n_tiles-1)) AS tile_idx) g
         |ORDER BY image_id, tile_idx""".stripMargin)),

    Gate("q_crop_rects", (s, dir) =>
      SpatialJoin.cropRects(
          SpatialJoin.joinRects(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes))
        .select(col("image_id"), col("fid"), col("cpx0"), col("cpy0"),
          col("cpx1"), col("cpy1"))
        .orderBy("image_id", "fid"),
      Some(s"""WITH $I, $P, $joinCte,
         |c AS (SELECT image_id, fid, x0m, y1m,
         |        GREATEST(x0m,px0m) AS ix0m, GREATEST(y0m,py0m) AS iy0m,
         |        LEAST(x1m,px1m) AS ix1m, LEAST(y1m,py1m) AS iy1m
         |      FROM j)
         |SELECT image_id, fid,
         |       (ix0m - x0m)//4 AS cpx0, (y1m - iy1m)//4 AS cpy0,
         |       (ix1m - x0m + 3)//4 AS cpx1, (y1m - iy0m + 3)//4 AS cpy1
         |FROM c ORDER BY image_id, fid""".stripMargin)),

    Gate("q_overlay_order", (s, dir) =>
      Mosaic.overlayOrder(Synth.images(s, dir),
          Synth.polygons(s, dir).where(col("fid") < 3), 9)
        .orderBy("fid", "cix", "ciy"),
      Some(s"""WITH $I, $P,
         |pc AS (SELECT fid,
         |         (px0m+180000)//1024 AS ix0, (px1m-1+180000)//1024 AS ix1,
         |         (py0m+90000)//1024 AS iy0, (py1m-1+90000)//1024 AS iy1
         |       FROM poly2 WHERE fid < 3),
         |cells AS (SELECT fid, cx.cix, cy.ciy,
         |            cx.cix*1024 - 180000 + 512 AS ccx,
         |            cy.ciy*1024 - 90000 + 512 AS ccy
         |          FROM pc
         |          CROSS JOIN LATERAL (SELECT unnest(generate_series(ix0, ix1))
         |            AS cix) cx
         |          CROSS JOIN LATERAL (SELECT unnest(generate_series(iy0, iy1))
         |            AS ciy) cy)
         |SELECT c.fid, c.cix, c.ciy, MAX(i.k) AS win_k
         |FROM cells c JOIN img2 i
         |  ON i.x0m <= c.ccx AND c.ccx < i.x1m
         | AND i.y0m <= c.ccy AND c.ccy < i.y1m
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // zonal stats: spatial join + per-polygon masked pixel rollup
    // (extract-by-vector) — pixel-center-in-rect rule, exact BIGINTs
    Gate("q_zonal_stats", (s, dir) =>
      Stats.zonalStats(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
          Synth.polygons(s, dir), Synth.NumBands)
        .orderBy("fid"),
      // zonal stats ground truth: regenerate the small-raw pixels, map
      // each to its geo CENTER (x0m + 4x + 2, y1m − 4y − 2), keep those
      // inside [p0, p1) of each overlapping polygon, roll up per fid
      Some(s"""WITH $I, $P, $B, $SimgCte, $PxCte,
         |zp AS (SELECT p2.fid, i.k, x.v
         |       FROM px x
         |       JOIN img2 i ON i.k = x.k
         |       JOIN poly2 p2
         |         ON i.x0m + 4*x.x + 2 >= p2.px0m
         |        AND i.x0m + 4*x.x + 2 <  p2.px1m
         |        AND i.y1m - 4*x.y - 2 >= p2.py0m
         |        AND i.y1m - 4*x.y - 2 <  p2.py1m
         |       WHERE x.b = 0)
         |SELECT fid, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_imgs,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(v) AS BIGINT) AS vsum,
         |  CAST(MIN(v) AS BIGINT) AS vmin,
         |  CAST(MAX(v) AS BIGINT) AS vmax
         |FROM zp GROUP BY fid ORDER BY fid""".stripMargin)),

    // categorical zonal statistics: majority/minority/diversity of
    // the 256-quantized band-0 value per polygon zone — the kernel
    // ships per-pair histograms (≤ bins rows), never pixels
    Gate("q_zonal_majority", (s, dir) =>
      Stats.zonalMajority(Stats.zonalHist(
          Synth.imagesWithBytes(s, dir, Synth.smallRaw),
          Synth.polygons(s, dir), Synth.NumBands, 256L))
        .orderBy("fid"),
      // zonal majority replay: same center-in-rect pixel join, q = v//256
      // histogram per zone, majority/minority via opposite-order ranks
      Some(s"""WITH $I, $P, $B, $SimgCte, $PxCte,
         |zmp AS (SELECT p2.fid, x.v // 256 AS q
         |        FROM px x
         |        JOIN img2 i ON i.k = x.k
         |        JOIN poly2 p2
         |          ON i.x0m + 4*x.x + 2 >= p2.px0m
         |         AND i.x0m + 4*x.x + 2 <  p2.px1m
         |         AND i.y1m - 4*x.y - 2 >= p2.py0m
         |         AND i.y1m - 4*x.y - 2 <  p2.py1m
         |        WHERE x.b = 0),
         |zmh AS (SELECT fid, q, CAST(COUNT(*) AS BIGINT) AS n
         |        FROM zmp GROUP BY 1, 2),
         |zmr AS (SELECT fid, q, n,
         |          ROW_NUMBER() OVER (PARTITION BY fid
         |            ORDER BY n DESC, q) AS rj,
         |          ROW_NUMBER() OVER (PARTITION BY fid
         |            ORDER BY n, q) AS rn
         |        FROM zmh)
         |SELECT fid,
         |  CAST(MAX(CASE WHEN rj = 1 THEN q END) AS BIGINT) AS majority_q,
         |  CAST(MAX(CASE WHEN rn = 1 THEN q END) AS BIGINT) AS minority_q,
         |  CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(SUM(n) AS BIGINT) AS n_px
         |FROM zmr GROUP BY fid ORDER BY fid""".stripMargin)),

    // ARBITRARY-RING zonal stats (extract-by-vector on a CONCAVE
    // polygon): ray-cast pixel-center inclusion against the L-ring
    // layer — the engine's generic PIP; the oracle states the same
    // inclusion as the union of two half-open rects (exact for
    // axis-aligned rings under the PIP's half-open crossing rule)
    Gate("q_zonal_poly", (s, dir) =>
      Stats.zonalStatsPoly(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
          Synth.polygonsL(s, dir), Synth.NumBands)
        .orderBy("fid"),
      // concave L-ring zonal: inclusion = union of two half-open rects
      // (lower full-width slab + upper left-of-cut slab) — the exact SQL
      // statement of the engine's ray-cast PIP on this axis-aligned ring
      Some(s"""WITH $I, $P, $B, $SimgCte, $PxCte,
         |lc AS (SELECT *, px0m + pwm//2 AS cutx, py0m + phm//2 AS cuty
         |       FROM poly2),
         |zp AS (SELECT p2.fid, i.k, x.v
         |       FROM px x
         |       JOIN img2 i ON i.k = x.k
         |       JOIN lc p2 ON
         |         ((i.x0m + 4*x.x + 2 >= p2.px0m
         |           AND i.x0m + 4*x.x + 2 < p2.px1m
         |           AND i.y1m - 4*x.y - 2 >= p2.py0m
         |           AND i.y1m - 4*x.y - 2 < p2.cuty)
         |          OR (i.x0m + 4*x.x + 2 >= p2.px0m
         |           AND i.x0m + 4*x.x + 2 < p2.cutx
         |           AND i.y1m - 4*x.y - 2 >= p2.cuty
         |           AND i.y1m - 4*x.y - 2 < p2.py1m))
         |       WHERE x.b = 0)
         |SELECT fid, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_imgs,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(v) AS BIGINT) AS vsum,
         |  CAST(MIN(v) AS BIGINT) AS vmin,
         |  CAST(MAX(v) AS BIGINT) AS vmax
         |FROM zp GROUP BY fid ORDER BY fid""".stripMargin)),

    // ---- vector-layer attribute ops (GeoVector.where analogs) ----
    // exact shoelace measures of the concave L-ring layer (signed
    // area2 + centroid numerators, integer mdeg)
    Gate("q_geom_measures", (s, dir) =>
      new graft.api.GippySpark(s)
        .measures(Synth.polygonsL(s, dir))
        .orderBy("fid"),
      // the 6-vertex L-ring rebuilt from the layer params; shoelace +
      // centroid numerators over the wrapped edge list
      Some(s"""WITH $P,
         |lc AS (SELECT *, px0m + pwm//2 AS cutx, py0m + phm//2 AS cuty
         |       FROM poly2),
         |v AS (
         |  SELECT fid, 0 AS i, px0m AS x, py0m AS y FROM lc
         |  UNION ALL SELECT fid, 1, px1m, py0m FROM lc
         |  UNION ALL SELECT fid, 2, px1m, cuty FROM lc
         |  UNION ALL SELECT fid, 3, cutx, cuty FROM lc
         |  UNION ALL SELECT fid, 4, cutx, py1m FROM lc
         |  UNION ALL SELECT fid, 5, px0m, py1m FROM lc),
         |e AS (SELECT a.fid,
         |        CAST(a.x AS BIGINT) AS ax, CAST(a.y AS BIGINT) AS ay,
         |        CAST(b.x AS BIGINT) AS bx, CAST(b.y AS BIGINT) AS by
         |      FROM v a JOIN v b ON b.fid = a.fid
         |        AND b.i = (a.i + 1) % 6)
         |SELECT fid, CAST(6 AS BIGINT) AS nvert,
         |  CAST(SUM(ax*by - bx*ay) AS BIGINT) AS area2_mdeg,
         |  CAST(SUM((ax + bx) * (ax*by - bx*ay)) AS BIGINT) AS cx_num,
         |  CAST(SUM((ay + by) * (ax*by - bx*ay)) AS BIGINT) AS cy_num
         |FROM e GROUP BY fid ORDER BY fid""".stripMargin)),

    Gate("q_vector_where", (s, dir) => {
      val g = new graft.api.GippySpark(s)
      g.where(g.openPolygons(dir), "pwm > 20000 AND fid % 2 = 0")
        .toDF().select(col("fid"), col("px0m"), col("py0m"),
          col("px1m"), col("py1m"))
        .orderBy("fid")
    },
      Some(s"""WITH $P
         |SELECT fid, CAST(px0m AS BIGINT) AS px0m,
         |  CAST(py0m AS BIGINT) AS py0m, CAST(px1m AS BIGINT) AS px1m,
         |  CAST(py1m AS BIGINT) AS py1m FROM poly2
         |WHERE pwm > 20000 AND fid % 2 = 0 ORDER BY fid""".stripMargin)),

    // per-hit intersection GEOMETRY (GeoVector.h:167-169): clip kernel
    // output proved value-exact — the clipped ring's shoelace area must
    // equal the closed-form rectangle overlap, vertex count 4
    Gate("q_intersection_geom", (s, dir) =>
      SpatialJoin.intersectionGeomMdeg(
          SpatialJoin.joinRects(Synth.images(s, dir), Synth.polygons(s, dir), Synth.JoinRes))
        .select(col("image_id"), col("fid"), col("inter_nvert"),
          col("inter_area"))
        .orderBy("image_id", "fid"),
      Some(s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, CAST(4 AS BIGINT) AS inter_nvert,
         |       overlap_area AS inter_area
         |FROM j ORDER BY image_id, fid""".stripMargin)),

    // region-quadtree leaf census of the z%7<3 mask padded to 64×64
    Gate("q_quadtree", (s, dir) => {
      val f = udf((bytes: Array[Byte], w: Int, h: Int) => {
        val z = graft.core.Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
        val m = Array.tabulate(w * h)(i => z(i).toLong % 7 < 3)
        graft.ops.Vision.quadtreeLeaves(m, w, h, 64)
      })
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", f(col("dem_bytes"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_leaves"),
          col("r._2").as("n_fg_leaves"), col("r._3").as("chk"))
        .orderBy("image_id")
    },
      // region quadtree: per level m the node is uniform iff min=max
      // over the padded 64×64 grid; leaf = uniform with mixed parent
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |qg64 AS (SELECT unnest(generate_series(0, 63)) AS i),
         |qgrid AS (SELECT s.k, s.image_id, gx.i AS x, gy.i AS y,
         |            CASE WHEN d.z % 7 < 3 THEN 1 ELSE 0 END AS v
         |          FROM simg s CROSS JOIN qg64 gx CROSS JOIN qg64 gy
         |          LEFT JOIN demp d ON d.k = s.k AND d.x = gx.i
         |            AND d.y = gy.i),
         |qlv AS (SELECT unnest(generate_series(0, 6)) AS m),
         |qnode AS (SELECT g.k, g.image_id, l.m,
         |            g.x // (CAST(1 AS BIGINT) << l.m) AS nx,
         |            g.y // (CAST(1 AS BIGINT) << l.m) AS ny,
         |            MIN(g.v) AS mn, MAX(g.v) AS mx
         |          FROM qgrid g JOIN qlv l ON TRUE
         |          GROUP BY 1, 2, 3, 4, 5),
         |qleaf AS (SELECT c.k, c.image_id, c.m, c.nx, c.ny, c.mn AS v
         |          FROM qnode c
         |          LEFT JOIN qnode p ON p.k = c.k AND p.m = c.m + 1
         |            AND p.nx = c.nx // 2 AND p.ny = c.ny // 2
         |          WHERE c.mn = c.mx
         |            AND (c.m = 6 OR p.mn <> p.mx))
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_leaves,
         |  CAST(SUM(v) AS BIGINT) AS n_fg_leaves,
         |  CAST(SUM((m+1)*(nx + 131*ny + 7)) AS BIGINT) AS chk
         |FROM qleaf GROUP BY 1 ORDER BY 1""".stripMargin)),

    // spatial autocorrelation over the proximity graph: Moran's I
    // numerator/denominator in exact n-scaled-deviation integers +
    // Cliff-Ord BB/WW/BW join counts on a binary attribute
    Gate("q_moran", (s, dir) =>
      graft.ops.SpatialJoin.moranStats(Synth.images(s, dir), 3000L),
      // Moran / join-count ground truth: n-scaled deviations d = n·x−Σx
      // over the same rect-overlap edges; num = Σ d_a·d_b per edge,
      // den = Σ d², BB/WW/BW tallies on the binary attribute
      Some(s"""WITH $I,
         |mre AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        $ProximityOn),
         |mat AS (SELECT k, k % 7 AS x, k % 2 AS b FROM img2),
         |mtt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(x) AS BIGINT) AS sx FROM mat),
         |mdv AS (SELECT k, CAST(t.n * x - t.sx AS BIGINT) AS d, b
         |        FROM mat, mtt t),
         |mej AS (SELECT a.d AS da, a.b AS ba, c.d AS db, c.b AS bb
         |        FROM mre e JOIN mdv a ON a.k = e.ka
         |        JOIN mdv c ON c.k = e.kb)
         |SELECT (SELECT n FROM mtt) AS n_nodes,
         |  CAST(COUNT(*) AS BIGINT) AS n_edges,
         |  CAST(COALESCE(SUM(da * db), 0) AS BIGINT) AS num,
         |  (SELECT CAST(SUM(d * d) AS BIGINT) FROM mdv) AS den,
         |  CAST(COALESCE(SUM(CASE WHEN ba = 1 AND bb = 1 THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS jbb,
         |  CAST(COALESCE(SUM(CASE WHEN ba = 0 AND bb = 0 THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS jww,
         |  CAST(COALESCE(SUM(CASE WHEN ba <> bb THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS jbw
         |FROM mej""".stripMargin)),

    // Getis-Ord Gi* hotspot pieces over an eps-pitch centroid grid:
    // per non-empty bin the image count x and the 3x3 binary-
    // contiguity neighborhood sum (self included) — the exact-
    // integer inputs of the Gi* z-score
    Gate("q_hotspot", (s, dir) =>
      graft.ops.SpatialJoin.hotspotBins(Synth.images(s, dir), 9000L)
        .orderBy("gi", "gj"),
      // Gi* pieces: bin counts on the doubled-centroid eps grid, then
      // a 3x3 bin-key band join for the neighborhood sum (empty bins
      // contribute 0, so summing non-empty neighbors is exact)
      Some(s"""WITH $I,
         |hsg AS (SELECT (x0m + x1m + 360000) // 9000 AS gi,
         |          (y0m + y1m + 180000) // 9000 AS gj FROM img2),
         |hsb AS (SELECT gi, gj, CAST(COUNT(*) AS BIGINT) AS x
         |        FROM hsg GROUP BY 1, 2),
         |hsn AS (SELECT a.gi, a.gj, CAST(SUM(b.x) AS BIGINT) AS nsum
         |        FROM hsb a JOIN hsb b
         |          ON b.gi BETWEEN a.gi - 1 AND a.gi + 1
         |         AND b.gj BETWEEN a.gj - 1 AND a.gj + 1
         |        GROUP BY 1, 2)
         |SELECT CAST(a.gi AS BIGINT) AS gi, CAST(a.gj AS BIGINT) AS gj,
         |  a.x, n.nsum
         |FROM hsb a JOIN hsn n ON n.gi = a.gi AND n.gj = a.gj
         |ORDER BY 1, 2""".stripMargin)),

    // union (coverage) area of pad-3000 footprints per 30000-pitch
    // coarse cell: grid-partitioned slab decomposition, exact mdeg^2
    Gate("q_union_area", (s, dir) =>
      graft.ops.SpatialJoin.coverageArea(Synth.images(s, dir), 3000L, 30000L)
        .orderBy("ci", "cj"),
      // union area ground truth: same slab decomposition in SQL —
      // clip to cells, LEAD slabs, running-max island walk per slab;
      // half-open boxes so area = Σ ylen·(sx1−sx0) exactly
      Some(s"""WITH $I,
         |uar AS (SELECT k, x0m - 3000 + 180000 AS gx0,
         |          x1m + 3000 + 180000 AS gx1,
         |          y0m - 3000 + 90000 AS gy0, y1m + 3000 + 90000 AS gy1
         |        FROM img2),
         |uac AS (SELECT k, a.ci, b.cj,
         |          GREATEST(gx0, a.ci*30000) AS cx0,
         |          LEAST(gx1, (a.ci+1)*30000) AS cx1,
         |          GREATEST(gy0, b.cj*30000) AS cy0,
         |          LEAST(gy1, (b.cj+1)*30000) AS cy1
         |        FROM uar
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(
         |          gx0//30000, (gx1-1)//30000)) AS ci) a
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(
         |          gy0//30000, (gy1-1)//30000)) AS cj) b),
         |uab AS (SELECT DISTINCT ci, cj, bx FROM (
         |          SELECT ci, cj, cx0 AS bx FROM uac
         |          UNION ALL SELECT ci, cj, cx1 FROM uac) u),
         |uas AS (SELECT ci, cj, bx AS sx0,
         |          LEAD(bx) OVER (PARTITION BY ci, cj ORDER BY bx) AS sx1
         |        FROM uab),
         |uaj AS (SELECT s.ci, s.cj, s.sx0, s.sx1, r.cy0, r.cy1, r.k
         |        FROM uas s JOIN uac r ON r.ci = s.ci AND r.cj = s.cj
         |          AND r.cx0 <= s.sx0 AND r.cx1 >= s.sx1
         |        WHERE s.sx1 IS NOT NULL),
         |uaw AS (SELECT ci, cj, sx0, sx1, cy0, cy1, k,
         |          CASE WHEN cy0 > COALESCE(MAX(cy1) OVER (
         |            PARTITION BY ci, cj, sx0 ORDER BY cy0, cy1, k
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |            -1) THEN 1 ELSE 0 END AS isn
         |        FROM uaj),
         |uai AS (SELECT ci, cj, sx0, sx1, cy0, cy1,
         |          SUM(isn) OVER (PARTITION BY ci, cj, sx0
         |            ORDER BY cy0, cy1, k
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS island
         |        FROM uaw),
         |uag AS (SELECT ci, cj, sx0, island, MAX(sx1) AS sx1,
         |          MAX(cy1) - MIN(cy0) AS ylen
         |        FROM uai GROUP BY 1, 2, 3, 4),
         |uaa AS (SELECT ci, cj,
         |          CAST(SUM(ylen * (sx1 - sx0)) AS BIGINT) AS area
         |        FROM uag GROUP BY 1, 2),
         |uan AS (SELECT ci, cj, CAST(COUNT(*) AS BIGINT) AS n_rects
         |        FROM uac GROUP BY 1, 2)
         |SELECT CAST(n.ci AS BIGINT) AS ci, CAST(n.cj AS BIGINT) AS cj,
         |  n.n_rects, a.area
         |FROM uan n JOIN uaa a ON a.ci = n.ci AND a.cj = n.cj
         |ORDER BY 1, 2""".stripMargin)),

    // hex-lattice binning of footprint centroids (doubled-coordinate
    // integer lattice, nearest-center by exact squared distance)
    Gate("q_hex_rollup", (s, dir) =>
      graft.ops.SpatialJoin.hexBin(Synth.images(s, dir), 9000L, 14000L)
        .orderBy("hi", "hj"),
      // nearest hex-lattice center by integer squared distance in
      // doubled centroid space; ties → lexicographic (i, j)
      Some(s"""WITH $I,
         |hxc AS (SELECT k, x0m + x1m + 360000 AS qx,
         |          y0m + y1m + 180000 AS qy FROM img2),
         |hxi AS (SELECT k, qx, qy, qx // 18000 AS i0, qy // 28000 AS j0
         |        FROM hxc),
         |hxn AS (SELECT h.k, h.qx, h.qy, h.i0 + di.v AS i, h.j0 + dj.v AS j
         |        FROM hxi h
         |        CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS v) di
         |        CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS v) dj),
         |hxd AS (SELECT k, i, j,
         |          (qx - i*18000)*(qx - i*18000) +
         |          (qy - (j*28000 + 14000*(i % 2)))
         |            *(qy - (j*28000 + 14000*(i % 2))) AS d2
         |        FROM hxn),
         |hxa AS (SELECT k,
         |          (MIN(struct_pack(d := d2, i := i, j := j))).i AS hi,
         |          (MIN(struct_pack(d := d2, i := i, j := j))).j AS hj
         |        FROM hxd GROUP BY 1)
         |SELECT CAST(hi AS BIGINT) AS hi, CAST(hj AS BIGINT) AS hj,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(k) AS BIGINT) AS k_sum
         |FROM hxa GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // grid-partitioned DBSCAN over footprint centroids (eps-pitch
    // grid, 3x3-cell probe equi-join for neighbor pairs, CC over
    // core-core edges, deterministic min-cluster border attachment;
    // the oracle replays it all-pairs + transitive-closure reach)
    Gate("q_dbscan", (s, dir) =>
      graft.ops.SpatialJoin.dbscanGrid(
          Synth.images(s, dir).where(col("k") <= 2000), 6000L, 4)
        .orderBy("k"),
      // DBSCAN ground truth: all-pairs eps-ball neighbors, core test
      // |N| + 1 >= minPts, transitive-closure reach over core-core
      // edges (cluster = min core id), border = min cluster among
      // core neighbors, else noise (-1)
      Some(s"""WITH RECURSIVE $I,
         |dbp AS (SELECT k, x0m + x1m + 360000 AS qx,
         |          y0m + y1m + 180000 AS qy FROM img2
         |        WHERE k <= 2000),
         |dbe AS (SELECT a.k AS ka, b.k AS kb FROM dbp a JOIN dbp b
         |        ON a.k <> b.k
         |       AND (a.qx-b.qx)*(a.qx-b.qx) + (a.qy-b.qy)*(a.qy-b.qy)
         |           <= ${6000L * 6000L}),
         |dbn AS (SELECT ka, COUNT(*) AS nn FROM dbe GROUP BY 1),
         |dbc AS (SELECT p.k FROM dbp p LEFT JOIN dbn n ON n.ka = p.k
         |        WHERE COALESCE(n.nn, 0) + 1 >= 4),
         |dce AS (SELECT e.ka AS u, e.kb AS v FROM dbe e
         |        JOIN dbc x ON x.k = e.ka JOIN dbc y ON y.k = e.kb),
         |dbreach AS (SELECT k AS v, k AS l FROM dbc
         |            UNION
         |            SELECT e.v, r.l FROM dbreach r JOIN dce e
         |              ON e.u = r.v),
         |dbclu AS (SELECT v AS k, MIN(l) AS cluster FROM dbreach
         |          GROUP BY 1),
         |dbbord AS (SELECT e.ka AS k, MIN(c.cluster) AS cluster
         |           FROM dbe e JOIN dbclu c ON c.k = e.kb
         |           WHERE e.ka NOT IN (SELECT k FROM dbc)
         |           GROUP BY 1)
         |SELECT CAST(p.k AS BIGINT) AS k,
         |  CAST(CASE WHEN c2.k IS NOT NULL THEN 2
         |            WHEN b.k IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS role,
         |  CAST(COALESCE(c2.cluster, b.cluster, -1) AS BIGINT)
         |    AS cluster
         |FROM dbp p
         |LEFT JOIN dbclu c2 ON c2.k = p.k
         |LEFT JOIN dbbord b ON b.k = p.k
         |ORDER BY p.k""".stripMargin)),

    // Douglas-Peucker track simplification: per-user event tracks
    // with md5-derived integer coordinates, ε² = 1048576 (ε = 1024)
    Gate("q_track_simplify", (s, dir) => {
      Synth.trackLists(Synth.eventTracks(s, dir, 40))
        .withColumn("r", graft.ops.Tracks.dpAgg(col("pts"),
          lit(1048576L)))
        .select(col("user_id"), col("r._1").as("n_pts"),
          col("r._2").as("n_kept"), col("r._3").as("idx_sum"),
          col("r._4").as("chk"))
        .where(col("n_pts") >= 2)
        .orderBy("user_id")
    },
      // DP recursion as a segment-splitting recursive CTE: per active
      // chord the argmax-cross² interior point via scatter + GROUP BY;
      // split iff cross² > ε²·|AB|²; kept = all chord endpoints
      Some(s"""WITH RECURSIVE
         |$UserTracksCte,
         |dps AS (
         |  SELECT user_id, CAST(0 AS BIGINT) AS a, n - 1 AS b
         |  FROM dpn WHERE n >= 2
         |  UNION ALL
         |  SELECT q.user_id,
         |    CASE WHEN sd.s = 0 THEN q.a ELSE q.m END AS a,
         |    CASE WHEN sd.s = 0 THEN q.m ELSE q.b END AS b
         |  FROM (
         |    SELECT t.user_id, t.a, t.b,
         |      -(MAX(struct_pack(c2 := t.c2, ni := -t.i))).ni AS m,
         |      (MAX(struct_pack(c2 := t.c2, ni := -t.i))).c2 AS bc2,
         |      MIN(t.ab2) AS ab2
         |    FROM (
         |      SELECT g.user_id, g.a, g.b, p.idx AS i,
         |        ((pb.px - pa.px)*(p.py - pa.py)
         |          - (pb.py - pa.py)*(p.px - pa.px))
         |        * ((pb.px - pa.px)*(p.py - pa.py)
         |          - (pb.py - pa.py)*(p.px - pa.px)) AS c2,
         |        (pb.px - pa.px)*(pb.px - pa.px)
         |          + (pb.py - pa.py)*(pb.py - pa.py) AS ab2
         |      FROM dps g
         |      JOIN dpp pa ON pa.user_id = g.user_id AND pa.idx = g.a
         |      JOIN dpp pb ON pb.user_id = g.user_id AND pb.idx = g.b
         |      JOIN dpp p ON p.user_id = g.user_id AND p.idx > g.a
         |        AND p.idx < g.b
         |    ) t GROUP BY 1, 2, 3
         |  ) q CROSS JOIN (SELECT unnest([0, 1]) AS s) sd
         |  WHERE q.bc2 > 1048576 * q.ab2),
         |dpk AS (SELECT DISTINCT user_id, idx FROM (
         |          SELECT user_id, a AS idx FROM dps
         |          UNION ALL SELECT user_id, b AS idx FROM dps) du)
         |SELECT d.user_id, CAST(n.n AS BIGINT) AS n_pts,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(SUM(d.idx) AS BIGINT) AS idx_sum,
         |  CAST(SUM(p.px + 131*p.py) AS BIGINT) AS chk
         |FROM dpk d
         |JOIN dpp p ON p.user_id = d.user_id AND p.idx = d.idx
         |JOIN dpn n ON n.user_id = d.user_id
         |WHERE n.n >= 2
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // convex hull per user point set (monotone chain, strict
    // vertices): hull size, doubled shoelace area, vertex checksum
    Gate("q_convex_hull", (s, dir) => {
      Synth.trackLists(Synth.eventTracks(s, dir, 40))
        .withColumn("r", graft.ops.Tracks.hullAgg(col("pts")))
        .select(col("user_id"), col("r._1").as("n_distinct"),
          col("r._2").as("n_hull"), col("r._3").as("area2"),
          col("r._4").as("chk"))
        .where(col("n_distinct") >= 3)
        .orderBy("user_id")
    },
      // hull edge (a→b) iff every other point is strictly left
      // (cross > 0) or collinear strictly between; vertices = edge
      // sources; doubled area = Σ(xa·yb − xb·ya) over directed edges
      Some(s"""WITH
         |dpe AS (SELECT user_id, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 40),
         |dpq AS (SELECT user_id,
         |          ${eventPxPy(10)}
         |        FROM dpe),
         |chp AS (SELECT DISTINCT user_id, px, py FROM dpq),
         |chn AS (SELECT user_id, COUNT(*) AS nd FROM chp GROUP BY 1),
         |che AS (SELECT a.user_id, a.px AS ax, a.py AS ay,
         |          b.px AS bx, b.py AS by2
         |        FROM chp a JOIN chp b ON b.user_id = a.user_id
         |          AND (a.px != b.px OR a.py != b.py)
         |        WHERE NOT EXISTS (
         |          SELECT 1 FROM chp p
         |          WHERE p.user_id = a.user_id
         |            AND (p.px != a.px OR p.py != a.py)
         |            AND (p.px != b.px OR p.py != b.py)
         |            AND NOT (
         |              (b.px - a.px)*(p.py - a.py)
         |                - (b.py - a.py)*(p.px - a.px) > 0
         |              OR ((b.px - a.px)*(p.py - a.py)
         |                    - (b.py - a.py)*(p.px - a.px) = 0
         |                  AND p.px >= LEAST(a.px, b.px)
         |                  AND p.px <= GREATEST(a.px, b.px)
         |                  AND p.py >= LEAST(a.py, b.py)
         |                  AND p.py <= GREATEST(a.py, b.py)))))
         |SELECT e.user_id, CAST(MIN(n.nd) AS BIGINT) AS n_distinct,
         |  CAST(COUNT(*) AS BIGINT) AS n_hull,
         |  CAST(SUM(e.ax*e.by2 - e.bx*e.ay) AS BIGINT) AS area2,
         |  CAST(SUM(e.ax + 131*e.ay) AS BIGINT) AS chk
         |FROM che e JOIN chn n ON n.user_id = e.user_id
         |WHERE n.nd >= 3
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DTW distance of each user's first-24-point track to a fixed
    // 6-point reference path (per-key O(n·m) DP kernel, reference
    // broadcast as a literal; min-plus scatter-CTE oracle)
    Gate("q_dtw", (s, dir) => {
      val rx = DtwRefX.map(lit(_)); val ry = DtwRefY.map(lit(_))
      Synth.trackLists(dtwTrackPts(s, dir))
        .withColumn("r", graft.ops.Tracks.dtwAgg(col("pts"),
          array(rx: _*), array(ry: _*)))
        .select(col("user_id"), col("r._1").as("n_pts"),
          col("r._2").as("dtw"))
        .orderBy("user_id")
    },
      // DTW ground truth: synchronous min-plus relaxation over the
      // n×6 DP grid (every cell re-emits each round via the self-match
      // arm, so after max(i+j)-2 rounds each cell holds its exact DP
      // value; INF never inflates past its seed because of the min)
      Some {
      val refRows = DtwRefX.zip(DtwRefY).zipWithIndex
        .map { case ((x, y), j) => s"(${j + 1}, $x, $y)" }.mkString(", ")
      s"""WITH RECURSIVE
         |dwe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 30),
         |dwp AS (SELECT * FROM (
         |          SELECT user_id,
         |            ROW_NUMBER() OVER (PARTITION BY user_id
         |              ORDER BY ts, event_id) AS i,
         |            ${eventPxPy(12)}
         |          FROM dwe) t WHERE i <= 24),
         |dwr AS (SELECT * FROM (VALUES $refRows) AS t(j, rx, ry)),
         |dwc AS (SELECT p.user_id, p.i, r.j,
         |          (p.px - r.rx)*(p.px - r.rx)
         |            + (p.py - r.ry)*(p.py - r.ry) AS c
         |        FROM dwp p CROSS JOIN dwr r),
         |dwn AS (SELECT user_id, MAX(i) AS n FROM dwp GROUP BY 1),
         |dwv AS (
         |  SELECT user_id, i, j,
         |    CASE WHEN i = 1 AND j = 1 THEN c
         |         ELSE 2305843009213693952 END AS v,
         |    0 AS it
         |  FROM dwc
         |  UNION ALL
         |  SELECT * FROM (
         |    SELECT c.user_id, c.i, c.j,
         |      MIN(CASE WHEN p.i = c.i AND p.j = c.j THEN p.v
         |               ELSE c.c + p.v END) AS v,
         |      MIN(p.it) + 1 AS it
         |    FROM dwv p
         |    JOIN dwc c ON c.user_id = p.user_id
         |      AND ((c.i = p.i AND c.j = p.j)
         |        OR (c.i = p.i + 1 AND c.j = p.j)
         |        OR (c.i = p.i AND c.j = p.j + 1)
         |        OR (c.i = p.i + 1 AND c.j = p.j + 1))
         |    GROUP BY 1, 2, 3
         |  ) s WHERE s.it <= 29)
         |SELECT v.user_id, CAST(n.n AS BIGINT) AS n_pts,
         |  CAST(v.v AS BIGINT) AS dtw
         |FROM dwv v JOIN dwn n ON n.user_id = v.user_id
         |WHERE v.it = 29 AND v.i = n.n AND v.j = 6
         |ORDER BY 1""".stripMargin
    }),

    // discrete Fréchet distance of the SAME tracks to the SAME
    // reference path — the min-max DP twin of q_dtw (smallest leash
    // over monotone walks; GREATEST replaces + in the scatter-CTE
    // relax arm, so the oracle carries no overflow risk at INF)
    Gate("q_frechet", (s, dir) => {
      val rx = DtwRefX.map(lit(_)); val ry = DtwRefY.map(lit(_))
      Synth.trackLists(dtwTrackPts(s, dir))
        .withColumn("r", graft.ops.Tracks.frechetAgg(col("pts"),
          array(rx: _*), array(ry: _*)))
        .select(col("user_id"), col("r._1").as("n_pts"),
          col("r._2").as("frechet"))
        .orderBy("user_id")
    },
      // discrete Fréchet ground truth: the q_dtw min-plus scatter with
      // GREATEST in the relax arm (min-MAX semiring) — same grid, same
      // round bound, no addition so INF never overflows
      Some {
      val refRows = DtwRefX.zip(DtwRefY).zipWithIndex
        .map { case ((x, y), j) => s"(${j + 1}, $x, $y)" }.mkString(", ")
      s"""WITH RECURSIVE
         |fre AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 30),
         |frp AS (SELECT * FROM (
         |          SELECT user_id,
         |            ROW_NUMBER() OVER (PARTITION BY user_id
         |              ORDER BY ts, event_id) AS i,
         |            ${eventPxPy(12)}
         |          FROM fre) t WHERE i <= 24),
         |frr AS (SELECT * FROM (VALUES $refRows) AS t(j, rx, ry)),
         |frc AS (SELECT p.user_id, p.i, r.j,
         |          (p.px - r.rx)*(p.px - r.rx)
         |            + (p.py - r.ry)*(p.py - r.ry) AS c
         |        FROM frp p CROSS JOIN frr r),
         |frn AS (SELECT user_id, MAX(i) AS n FROM frp GROUP BY 1),
         |frv AS (
         |  SELECT user_id, i, j,
         |    CASE WHEN i = 1 AND j = 1 THEN c
         |         ELSE 2305843009213693952 END AS v,
         |    0 AS it
         |  FROM frc
         |  UNION ALL
         |  SELECT * FROM (
         |    SELECT c.user_id, c.i, c.j,
         |      MIN(CASE WHEN p.i = c.i AND p.j = c.j THEN p.v
         |               ELSE GREATEST(c.c, p.v) END) AS v,
         |      MIN(p.it) + 1 AS it
         |    FROM frv p
         |    JOIN frc c ON c.user_id = p.user_id
         |      AND ((c.i = p.i AND c.j = p.j)
         |        OR (c.i = p.i + 1 AND c.j = p.j)
         |        OR (c.i = p.i AND c.j = p.j + 1)
         |        OR (c.i = p.i + 1 AND c.j = p.j + 1))
         |    GROUP BY 1, 2, 3
         |  ) s WHERE s.it <= 29)
         |SELECT v.user_id, CAST(n.n AS BIGINT) AS n_pts,
         |  CAST(v.v AS BIGINT) AS frechet
         |FROM frv v JOIN frn n ON n.user_id = v.user_id
         |WHERE v.it = 29 AND v.i = n.n AND v.j = 6
         |ORDER BY 1""".stripMargin
    }),

    // symmetric Hausdorff distance (squared) between each track's
    // point SET and the reference path — order-free max-of-min
    // aggregation, no DP kernel: cross join against the 6-row
    // broadcast reference, min per point, max per track, both ways
    Gate("q_hausdorff", (s, dir) =>
      graft.ops.Tracks.hausdorff(
          dtwTrackPts(s, dir).select("user_id", "idx", "px", "py"),
          DtwRefX, DtwRefY)
        .orderBy("user_id"),
      // symmetric Hausdorff ground truth: max-of-min squared distances
      // in both directions over the same points and reference
      Some {
      val refRows = DtwRefX.zip(DtwRefY).zipWithIndex
        .map { case ((x, y), j) => s"(${j + 1}, $x, $y)" }.mkString(", ")
      s"""WITH
         |hde AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 30),
         |hdp AS (SELECT * FROM (
         |          SELECT user_id,
         |            ROW_NUMBER() OVER (PARTITION BY user_id
         |              ORDER BY ts, event_id) AS i,
         |            ${eventPxPy(12)}
         |          FROM hde) t WHERE i <= 24),
         |hdr AS (SELECT * FROM (VALUES $refRows) AS t(j, rx, ry)),
         |hdd AS (SELECT p.user_id, p.i, r.j,
         |          (p.px - r.rx)*(p.px - r.rx)
         |            + (p.py - r.ry)*(p.py - r.ry) AS d2
         |        FROM hdp p CROSS JOIN hdr r),
         |hdf AS (SELECT user_id, MAX(md) AS h_fwd FROM (
         |          SELECT user_id, i, MIN(d2) AS md FROM hdd
         |          GROUP BY 1, 2) GROUP BY 1),
         |hdb AS (SELECT user_id, MAX(md) AS h_bwd FROM (
         |          SELECT user_id, j, MIN(d2) AS md FROM hdd
         |          GROUP BY 1, 2) GROUP BY 1)
         |SELECT f.user_id, CAST(f.h_fwd AS BIGINT) AS h_fwd,
         |  CAST(b.h_bwd AS BIGINT) AS h_bwd,
         |  CAST(GREATEST(f.h_fwd, b.h_bwd) AS BIGINT) AS h_sym
         |FROM hdf f JOIN hdb b ON b.user_id = f.user_id
         |ORDER BY 1""".stripMargin
    }),

    // Knox space-time interaction: 2x2 contingency pieces (pairs
    // close in space s=64, in time tau=3600, and in both) via
    // cell- and bucket-banded pair joins — no all-pairs
    Gate("q_knox", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("event_id").as("id"), col("px"), col("py"),
          unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.knoxCounts(pts, 64L, 3600L)
    },
      // Knox pieces ground truth: the same banded pair joins (3x3
      // cells in space, ±1 buckets in time), each i<j pair met once
      Some(s"""WITH kne AS (SELECT event_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |knp AS (SELECT event_id AS id, t,
         |          ${eventPxPy(10)}
         |        FROM kne),
         |knb AS (SELECT id, px, py, t, px//64 AS cx, py//64 AS cy,
         |          t//3600 AS tb FROM knp),
         |kns AS (SELECT a.id AS ia, a.t AS ta, b.t AS tbs
         |        FROM knb a JOIN knb b
         |          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         |         AND a.id < b.id
         |         AND (a.px-b.px)*(a.px-b.px)
         |           + (a.py-b.py)*(a.py-b.py) <= 4096),
         |knt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_time
         |        FROM knb a JOIN knb b
         |          ON b.tb BETWEEN a.tb - 1 AND a.tb + 1
         |         AND a.id < b.id AND ABS(a.t - b.t) <= 3600),
         |kna AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_space,
         |          CAST(COALESCE(SUM(CASE WHEN ABS(ta - tbs) <= 3600
         |            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_st
         |        FROM kns),
         |knc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pts FROM knb)
         |SELECT n.n_pts, a.n_space, t.n_time, a.n_st
         |FROM knc n, kna a, knt t""".stripMargin)),

    // Ripley's K pair counts at radii {32,64,128,256}: one banded
    // pair join at the coarsest pitch, all radii counted from the
    // same candidate set
    Gate("q_ripley", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("event_id").as("id"), col("px"), col("py"))
      graft.ops.SpatialJoin.ripleyCounts(pts,
        Seq(32L, 64L, 128L, 256L)).orderBy("r")
    },
      // Ripley ground truth: banded pair join at pitch 256, per-radius
      // conditional counts over the one candidate set
      Some(s"""WITH rke AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |rkp AS (SELECT event_id AS id,
         |          ${eventPxPy(10)}
         |        FROM rke),
         |rkb AS (SELECT id, px, py, px//256 AS cx, py//256 AS cy
         |        FROM rkp),
         |rkd AS (SELECT (a.px-b.px)*(a.px-b.px)
         |            + (a.py-b.py)*(a.py-b.py) AS d2
         |        FROM rkb a JOIN rkb b
         |          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         |         AND a.id < b.id
         |         AND (a.px-b.px)*(a.px-b.px)
         |           + (a.py-b.py)*(a.py-b.py) <= 65536),
         |rkr AS (SELECT unnest([32, 64, 128, 256]) AS r)
         |SELECT CAST(r.r AS BIGINT) AS r,
         |  CAST(SUM(CASE WHEN d.d2 <= r.r*r.r THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_pairs
         |FROM rkd d CROSS JOIN rkr r
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // step-bearing octant histogram per user: trig-free integer
    // sector classification of every nonzero step, with Σd² checksum
    Gate("q_bearings", (s, dir) => {
      val pts = Synth.eventTracks(s, dir, 150)
      graft.ops.Tracks.bearingOctants(pts).orderBy("user_id", "oct")
    },
      // octant = floor(8·angle/360) via the sign/|dx|-vs-|dy| CASE
      // tree (identical literal tree on the Spark side) — no trig
      Some(s"""WITH boe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |bop AS (SELECT user_id,
         |          ROW_NUMBER() OVER (PARTITION BY user_id
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          ${eventPxPy(10)}
         |        FROM boe),
         |bod AS (SELECT user_id,
         |          px - LAG(px) OVER (PARTITION BY user_id
         |            ORDER BY idx) AS dx,
         |          py - LAG(py) OVER (PARTITION BY user_id
         |            ORDER BY idx) AS dy
         |        FROM bop),
         |boo AS (SELECT user_id, dx, dy,
         |          CASE
         |            WHEN dy >= 0 AND dx > 0 AND dy < dx THEN 0
         |            WHEN dy > 0 AND dx > 0 AND dy >= dx THEN 1
         |            WHEN dy > 0 AND dx <= 0 AND dy > -dx THEN 2
         |            WHEN dy > 0 AND dx < 0 AND dy <= -dx THEN 3
         |            WHEN dy <= 0 AND dx < 0 AND -dy < -dx THEN 4
         |            WHEN dy < 0 AND dx < 0 AND -dy >= -dx THEN 5
         |            WHEN dy < 0 AND dx >= 0 AND -dy > dx THEN 6
         |            ELSE 7 END AS oct
         |        FROM bod
         |        WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0))
         |SELECT user_id, CAST(oct AS BIGINT) AS oct,
         |  CAST(COUNT(*) AS BIGINT) AS n_steps,
         |  CAST(SUM(dx*dx + dy*dy) AS BIGINT) AS d2_sum
         |FROM boo GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // cross-user segment crossings (encounter detection): one short
    // md5-derived segment per event, banded by bbox cover cells at
    // pitch 256 with reporter-cell dedupe, exact integer orientation
    // tests — no all-pairs, no floats
    Gate("q_crossings", (s, dir) => {
      import Synth.eventHex
      val ax = Synth.eventPx + 128
      val ay = Synth.eventPy + 128
      val segs = Synth.events(s, dir).where(col("user_id") < 150)
        .select(col("event_id").as("sid"),
          col("user_id").as("u"), ax.as("ax"), ay.as("ay"),
          (ax + eventHex(7) * 16 + eventHex(8) - 128).as("bx"),
          (ay + eventHex(9) * 16 + eventHex(10) - 128).as("by"))
      graft.ops.SpatialJoin.segmentCrossings(segs, 256L)
    },
      // same banded cover-cell join + reporter-cell dedupe as the
      // Spark side; segment intersect = bbox overlap AND d1*d2<=0 AND
      // d3*d4<=0 (orientation cross products, exact integers)
      Some(s"""WITH sge AS (SELECT event_id, user_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |sgs AS (SELECT event_id AS sid, user_id AS u,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} + 128 AS BIGINT) AS ax,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} + 128 AS BIGINT) AS ay,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} + ${hx("hm", 7)}*16
         |            + ${hx("hm", 8)} AS BIGINT) AS bx,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} + ${hx("hm", 9)}*16
         |            + ${hx("hm", 10)} AS BIGINT) AS by
         |        FROM sge),
         |sgb AS (SELECT *, LEAST(ax, bx) AS x0, GREATEST(ax, bx) AS x1,
         |          LEAST(ay, by) AS y0, GREATEST(ay, by) AS y1
         |        FROM sgs),
         |sgx AS (SELECT *, unnest(generate_series(x0//256, x1//256))
         |          AS ccx FROM sgb),
         |sgc AS (SELECT *, unnest(generate_series(y0//256, y1//256))
         |          AS ccy FROM sgx),
         |sgp AS (SELECT
         |          a.ax AS axa, a.ay AS aya, a.bx AS bxa, a.by AS bya,
         |          b.ax AS axb, b.ay AS ayb, b.bx AS bxb, b.by AS byb
         |        FROM sgc a JOIN sgc b
         |          ON a.ccx = b.ccx AND a.ccy = b.ccy AND a.u < b.u
         |         AND a.x0 <= b.x1 AND b.x0 <= a.x1
         |         AND a.y0 <= b.y1 AND b.y0 <= a.y1
         |         AND a.ccx = GREATEST(a.x0, b.x0)//256
         |         AND a.ccy = GREATEST(a.y0, b.y0)//256),
         |sgd AS (SELECT
         |          (bxb-axb)*(aya-ayb) - (byb-ayb)*(axa-axb) AS d1,
         |          (bxb-axb)*(bya-ayb) - (byb-ayb)*(bxa-axb) AS d2,
         |          (bxa-axa)*(ayb-aya) - (bya-aya)*(axb-axa) AS d3,
         |          (bxa-axa)*(byb-aya) - (bya-aya)*(bxb-axa) AS d4
         |        FROM sgp),
         |sgn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_segs FROM sgs),
         |sgt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
         |          CAST(COALESCE(SUM(CASE WHEN d1*d2 <= 0
         |            AND d3*d4 <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |            AS n_cross
         |        FROM sgd)
         |SELECT n.n_segs, t.n_cand, t.n_cross FROM sgn n, sgt t""".stripMargin)),

    // emerging-hotspot classification: the MK-trend cells composed
    // with a division-free hot-NOW test on the final day slice —
    // the space-time-cube taxonomy (intensifying/persistent/
    // diminishing/emerging), same fixture as q_mk_trend
    Gate("q_emerging", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("px"), col("py"), unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.emergingHotspots(pts, 512L, 86400L)
        .orderBy("gi", "gj")
    },
      Some(s"""WITH $MannKendallCte,
         |mkt AS (SELECT gi, gj, CAST(SUM(c) AS BIGINT) AS n_events
         |        FROM mkb GROUP BY 1, 2),
         |emx AS (SELECT MAX(tb) AS tbm FROM mkb),
         |eml AS (SELECT gi, gj, c FROM mkb, emx WHERE tb = tbm),
         |emn AS (SELECT l.gi, l.gj, CAST(SUM(n.c) AS BIGINT) AS nsum
         |        FROM eml l JOIN eml n
         |          ON n.gi BETWEEN l.gi - 1 AND l.gi + 1
         |         AND n.gj BETWEEN l.gj - 1 AND l.gj + 1
         |        GROUP BY 1, 2),
         |emg AS (SELECT CAST(SUM(c) AS BIGINT) AS tot,
         |          CAST(COUNT(*) AS BIGINT) AS ncl FROM eml),
         |emc AS (SELECT t.gi, t.gj, t.n_events,
         |          CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat,
         |          CASE WHEN n.nsum IS NOT NULL
         |                AND n.nsum*g.ncl > g.tot*9 THEN 1 ELSE 0
         |          END AS hot
         |        FROM mkt t
         |        LEFT JOIN mks s ON t.gi = s.gi AND t.gj = s.gj
         |        LEFT JOIN emn n ON t.gi = n.gi AND t.gj = n.gj
         |        CROSS JOIN emg g)
         |SELECT gi, gj, n_events, s_stat, CAST(hot AS BIGINT) AS hot,
         |  CASE WHEN hot = 1 AND s_stat > 0 THEN 'intensifying'
         |       WHEN hot = 1 AND s_stat = 0 THEN 'persistent'
         |       WHEN hot = 1 THEN 'diminishing'
         |       WHEN s_stat > 0 THEN 'emerging'
         |       ELSE 'none' END AS cls
         |FROM emc ORDER BY 1, 2""".stripMargin)),

    // per-cell dyadic EWMA burst detector over the trailing 30 days:
    // α=1/2 smoothing via the exact closed form 2^t·s_t = Σ 2^(i−1)x_i
    // (gap days need no densification), anomaly = x_t > 6·s_{t−1}
    // stated integer-exactly — per-cell windows over ≤30 rows
    Gate("q_ewma_anomaly", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("px"), col("py"), unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.ewmaAnomaly(pts, 512L, 86400L, 30)
        .orderBy("gi", "gj", "day")
    },
      // EWMA replay: same md5 point grid, trailing-30-day filter, the
      // 2^(idx−1) windowed sum, BIGINT shifts, floor-divided millis
      Some(s"""WITH ewe AS (SELECT event_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |ewp AS (SELECT t,
         |          ${eventPxPy(10)}
         |        FROM ewe),
         |ewb AS (SELECT px//512 AS gi, py//512 AS gj,
         |          t//86400 AS day, CAST(COUNT(*) AS BIGINT) AS x
         |        FROM ewp GROUP BY 1, 2, 3),
         |ewm AS (SELECT MAX(day) AS mxd FROM ewb),
         |ewr AS (SELECT b.gi, b.gj, b.day, b.x,
         |          b.day - (m.mxd - 30) AS idx
         |        FROM ewb b, ewm m WHERE b.day > m.mxd - 30),
         |ewc AS (SELECT gi, gj, day, x, idx,
         |          x * (CAST(1 AS BIGINT) << CAST(idx - 1 AS INT)) AS xw,
         |          CAST(SUM(x * (CAST(1 AS BIGINT)
         |              << CAST(idx - 1 AS INT)))
         |            OVER (PARTITION BY gi, gj ORDER BY idx) AS BIGINT)
         |            AS tt
         |        FROM ewr)
         |SELECT gi, gj, day, x,
         |  CAST((tt * 1000) // (CAST(1 AS BIGINT) << CAST(idx AS INT))
         |    AS BIGINT) AS ewma_milli,
         |  CAST(CASE WHEN xw > (tt - xw) * 6 THEN 1 ELSE 0 END
         |    AS BIGINT) AS anom
         |FROM ewc ORDER BY 1, 2, 3""".stripMargin)),

    // bivariate colocation (cross-K pieces) between error and
    // purchase events: pair + participation counts at 3 radii from
    // ONE banded candidate set
    Gate("q_colocate", (s, dir) => {
      val ev = Synth.eventPoints(s, dir, 150)
      def pts(ty: String) = ev.where(col("event_type") === ty)
        .select(col("event_id").as("id"), col("px"), col("py"))
      graft.ops.SpatialJoin.colocationCounts(
        pts("error"), pts("purchase"), Seq(32L, 64L, 128L)).orderBy("r")
    },
      // colocation ground truth: all error×purchase pairs within the
      // coarsest radius, then per-radius pair + distinct-participant
      // counts from the one candidate set
      Some(s"""WITH cle AS (SELECT event_id, event_type,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150
         |          AND event_type IN ('error', 'purchase')),
         |clp AS (SELECT event_id AS id, event_type,
         |          ${eventPxPy(10)}
         |        FROM cle),
         |clc AS (SELECT a.id AS ia, b.id AS ib,
         |          (a.px-b.px)*(a.px-b.px)
         |            + (a.py-b.py)*(a.py-b.py) AS d2
         |        FROM clp a JOIN clp b
         |          ON a.event_type = 'error'
         |         AND b.event_type = 'purchase'
         |         AND (a.px-b.px)*(a.px-b.px)
         |           + (a.py-b.py)*(a.py-b.py) <= 16384),
         |clr AS (SELECT unnest([32, 64, 128]) AS r)
         |SELECT CAST(r.r AS BIGINT) AS r,
         |  CAST(COALESCE(SUM(CASE WHEN c.d2 <= r.r*r.r THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT CASE WHEN c.d2 <= r.r*r.r
         |    THEN c.ia END) AS BIGINT) AS n_a,
         |  CAST(COUNT(DISTINCT CASE WHEN c.d2 <= r.r*r.r
         |    THEN c.ib END) AS BIGINT) AS n_b
         |FROM clc c CROSS JOIN clr r
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // map-matching snap: every event point to its nearest md5-derived
    // road segment within r=128 (exact rational point-to-segment
    // distance, anti-join argmin) → per-road match census
    Gate("q_snap_roads", (s, dir) => {
      import graft.sketch.Cms.hexVal
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("event_id").as("id"), col("px"), col("py"))
      val rh = md5(col("rid").cast("string"))
      def rv(i: Int) = hexVal(rh, i).cast("long")
      val segs = s.range(200).select(col("id").as("rid"))
        .select(col("rid").as("sid"),
          (rv(1) * 256 + rv(2) * 16 + rv(3) + 384).as("ax"),
          (rv(4) * 256 + rv(5) * 16 + rv(6) + 384).as("ay"),
          (rv(1) * 256 + rv(2) * 16 + rv(3) + 384 +
            rv(7) * 32 + rv(8) * 2 - 255).as("bx"),
          (rv(4) * 256 + rv(5) * 16 + rv(6) + 384 +
            rv(9) * 32 + rv(10) * 2 - 255).as("by"))
      graft.ops.SpatialJoin.snapToSegments(pts, segs, 256L, 128L)
        .groupBy("sid").agg(count(lit(1)).as("n_matched"),
          sum(expr("(num * 4096) div den")).as("d2q_sum"))
        .orderBy("sid")
    },
      // map-matching ground truth: all point×road pairs, exact rational
      // point-to-segment distance (num/den), radius filter, argmin by
      // cross-multiplied rational order via NOT EXISTS
      Some(s"""WITH sre AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |srp AS (SELECT event_id AS id,
         |          ${eventPxPy(10)}
         |        FROM sre),
         |srr AS (SELECT CAST(rid AS BIGINT) AS sid,
         |          md5(CAST(rid AS VARCHAR)) AS rh
         |        FROM (SELECT unnest(range(200)) AS rid)),
         |srs AS (SELECT sid,
         |          CAST(${hx("rh", 1)}*256 + ${hx("rh", 2)}*16
         |            + ${hx("rh", 3)} + 384 AS BIGINT) AS ax,
         |          CAST(${hx("rh", 4)}*256 + ${hx("rh", 5)}*16
         |            + ${hx("rh", 6)} + 384 AS BIGINT) AS ay,
         |          CAST(${hx("rh", 1)}*256 + ${hx("rh", 2)}*16
         |            + ${hx("rh", 3)} + 384 + ${hx("rh", 7)}*32
         |            + ${hx("rh", 8)}*2 - 255 AS BIGINT) AS bx,
         |          CAST(${hx("rh", 4)}*256 + ${hx("rh", 5)}*16
         |            + ${hx("rh", 6)} + 384 + ${hx("rh", 9)}*32
         |            + ${hx("rh", 10)}*2 - 255 AS BIGINT) AS by
         |        FROM srr),
         |srd AS (SELECT p.id, s.sid,
         |          (s.bx-s.ax)*(s.bx-s.ax)
         |            + (s.by-s.ay)*(s.by-s.ay) AS dd,
         |          (p.px-s.ax)*(s.bx-s.ax)
         |            + (p.py-s.ay)*(s.by-s.ay) AS tnum,
         |          (p.px-s.ax)*(p.px-s.ax)
         |            + (p.py-s.ay)*(p.py-s.ay) AS apd,
         |          (p.px-s.bx)*(p.px-s.bx)
         |            + (p.py-s.by)*(p.py-s.by) AS bpd,
         |          (p.px-s.ax)*(s.by-s.ay)
         |            - (p.py-s.ay)*(s.bx-s.ax) AS crs
         |        FROM srp p CROSS JOIN srs s),
         |src AS (SELECT id, sid,
         |          CASE WHEN tnum <= 0 THEN apd
         |            WHEN tnum >= dd THEN bpd
         |            ELSE crs*crs END AS num,
         |          CASE WHEN tnum <= 0 OR tnum >= dd THEN 1
         |            ELSE dd END AS den
         |        FROM srd),
         |srf AS (SELECT * FROM src WHERE num <= 16384 * den),
         |srw AS (SELECT id, sid, num, den FROM srf c
         |        WHERE NOT EXISTS (SELECT 1 FROM srf c2
         |          WHERE c2.id = c.id
         |            AND (c2.num * c.den < c.num * c2.den
         |              OR (c2.num * c.den = c.num * c2.den
         |                AND c2.sid < c.sid))))
         |SELECT sid, CAST(COUNT(*) AS BIGINT) AS n_matched,
         |  CAST(SUM((num * 4096) // den) AS BIGINT) AS d2q_sum
         |FROM srw GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hilbert-vs-Morton curve locality audit over the occupied
    // 256x256 cells of the event point set: total Manhattan step
    // length along each key order (the spatial-layout quantity)
    Gate("q_hilbert", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150).select("px", "py")
      graft.ops.SpatialJoin.curveLocality(pts, 16L, 8)
    },
      // Hilbert xy2d replayed as 8 unrolled rotate-flip rounds (pure
      // div/mod/CASE — identical arithmetic to the Spark expression);
      // locality sums via LAG over each key order
      Some(s"""WITH hle AS (SELECT md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |hlc AS (SELECT DISTINCT
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT)//16 AS hx0,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT)//16 AS hy0
         |        FROM hle),
         |hp0 AS (SELECT hx0, hy0, hx0 AS x, hy0 AS y,
         |          CAST(0 AS BIGINT) AS d FROM hlc),
         |${hilbertRoundsSql(8)},
         |hmn AS (SELECT hx0, hy0, d,
         |          ${mortonSql("hx0", "hy0", 8)} AS m FROM hp8),
         |hst AS (SELECT d, hx0, hy0,
         |          ABS(hx0 - LAG(hx0) OVER (ORDER BY d))
         |            + ABS(hy0 - LAG(hy0) OVER (ORDER BY d)) AS hs,
         |          ABS(hx0 - LAG(hx0) OVER (ORDER BY m))
         |            + ABS(hy0 - LAG(hy0) OVER (ORDER BY m)) AS ms
         |        FROM hmn)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(d) AS BIGINT) AS hd_sum,
         |  CAST(COALESCE(SUM(hs), 0) AS BIGINT) AS hilbert_steps,
         |  CAST(COALESCE(SUM(ms), 0) AS BIGINT) AS morton_steps
         |FROM hst""".stripMargin)),

    // Hilbert RANGE SCAN — the file-skipping planner demo: the query
    // rect [37,97)×[55,200) over the order-8 cell grid is decomposed
    // driver-side into minimal contiguous key ranges (quadtree
    // descent, corner-entry d-intervals, merged), then the point set
    // is counted per range via a broadcast range join. At 100 TB the
    // same ranges become row-group min/max skip predicates over the
    // Hilbert-clustered layout; the decomposition is data-independent.
    Gate("q_hilbert_ranges", (s, dir) => {
      import s.implicits._
      graft.expr.GraftFunctions.register(s)
      val rdf = broadcast(
        graft.ops.SpatialJoin.hilbertRanges(37, 55, 97, 200, 8)
          .zipWithIndex
          .map { case ((lo, hi), i) => (i.toLong, lo, hi) }
          .toDF("range_id", "lo", "hi"))
      val pts = Synth.eventPoints(s, dir, 150)
        .select(expr("px div 16").as("cx"), expr("py div 16").as("cy"))
        .select(graft.ops.SpatialJoin.hilbertKey(
          col("cx"), col("cy"), 8).as("d"))
      rdf.join(pts, col("d").between(col("lo"), col("hi")), "left")
        .groupBy("range_id", "lo", "hi")
        .agg(count(col("d")).as("n_pts"))
        .orderBy("range_id")
    },
      // Hilbert range-scan ground truth: the SAME driver-computed range
      // literals (the decomposition is exhaustively spec-verified
      // against brute xy2d membership), point keys via the 8 chained
      // Hilbert CTE rounds, then the identical between-join count
      Some {
      val rangeRows = graft.ops.SpatialJoin
        .hilbertRanges(37, 55, 97, 200, 8).zipWithIndex
        .map { case ((lo, hi), i) => s"($i, $lo, $hi)" }.mkString(", ")
      s"""WITH hre AS (SELECT md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |hrc AS (SELECT
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT)//16 AS hx0,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT)//16 AS hy0
         |        FROM hre),
         |hp0 AS (SELECT hx0, hy0, hx0 AS x, hy0 AS y,
         |          CAST(0 AS BIGINT) AS d FROM hrc),
         |${hilbertRoundsSql(8)},
         |hrg AS (SELECT * FROM (VALUES $rangeRows)
         |        AS t(range_id, lo, hi))
         |SELECT CAST(g.range_id AS BIGINT) AS range_id,
         |  CAST(g.lo AS BIGINT) AS lo, CAST(g.hi AS BIGINT) AS hi,
         |  CAST(COUNT(p.d) AS BIGINT) AS n_pts
         |FROM hrg g LEFT JOIN hp8 p ON p.d BETWEEN g.lo AND g.hi
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
    }),

    // discrete Voronoi / nearest-facility census: every event point
    // assigned to its nearest of 50 md5-derived sites (broadcast
    // argmin via lexicographic struct MIN, ties to smallest sid)
    Gate("q_voronoi", (s, dir) => {
      import graft.sketch.Cms.hexVal
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("event_id").as("id"), col("px"), col("py"))
      val sh = md5(col("fid").cast("string"))
      def sv(i: Int) = hexVal(sh, i).cast("long")
      val sites = s.range(50).select(col("id").as("fid"))
        .select(col("fid").as("sid"),
          (sv(1) * 256 + sv(2) * 16 + sv(3)).as("sx"),
          (sv(4) * 256 + sv(5) * 16 + sv(6)).as("sy"))
      graft.ops.SpatialJoin.nearestFacility(pts, sites).orderBy("sid")
    },
      // Voronoi census ground truth: cross join points x 50 sites,
      // per-point argmin by lexicographic struct MIN (d2, sid)
      Some(s"""WITH vne AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |vnp AS (SELECT event_id AS id,
         |          ${eventPxPy(10)}
         |        FROM vne),
         |vnf AS (SELECT CAST(fid AS BIGINT) AS sid,
         |          md5(CAST(fid AS VARCHAR)) AS sh
         |        FROM (SELECT unnest(range(50)) AS fid)),
         |vns AS (SELECT sid,
         |          CAST(${hx("sh", 1)}*256 + ${hx("sh", 2)}*16
         |            + ${hx("sh", 3)} AS BIGINT) AS sx,
         |          CAST(${hx("sh", 4)}*256 + ${hx("sh", 5)}*16
         |            + ${hx("sh", 6)} AS BIGINT) AS sy
         |        FROM vnf),
         |vna AS (SELECT p.id,
         |          MIN(struct_pack(d2 := (p.px-s.sx)*(p.px-s.sx)
         |              + (p.py-s.sy)*(p.py-s.sy), sid := s.sid)) AS c
         |        FROM vnp p CROSS JOIN vns s GROUP BY 1)
         |SELECT (c).sid AS sid, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |  CAST(SUM((c).d2) AS BIGINT) AS d2_sum
         |FROM vna GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Epanechnikov KDE heatmap at r=256: integer kernel weights
    // r^2 - d^2 summed per cell center, explode-9 + one aggregate
    Gate("q_kde", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150).select("px", "py")
      graft.ops.SpatialJoin.kdeHeatmap(pts, 256L).orderBy("gi", "gj")
    },
      // KDE ground truth: each point contributes r^2-d^2 to the 3x3
      // ring centers within r (identical explode + filter + aggregate)
      Some(s"""WITH kde AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |kdp AS (SELECT
         |          ${eventPxPy(10)}
         |        FROM kde),
         |kdx AS (SELECT px, py,
         |          unnest(generate_series(px//256 - 1, px//256 + 1))
         |            AS gi
         |        FROM kdp),
         |kdc AS (SELECT px, py, gi,
         |          unnest(generate_series(py//256 - 1, py//256 + 1))
         |            AS gj
         |        FROM kdx),
         |kdd AS (SELECT gi, gj,
         |          (px - (gi*256 + 128))*(px - (gi*256 + 128))
         |            + (py - (gj*256 + 128))*(py - (gj*256 + 128)) AS d2
         |        FROM kdc)
         |SELECT gi, gj, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |  CAST(SUM(65536 - d2) AS BIGINT) AS density
         |FROM kdd WHERE d2 <= 65536
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // per-pixel CUSUM changepoint over a 6-epoch stack: s* =
    // argmax_s |T·prefix_s − s·total| (ties → smallest s); per-image
    // changepoint-location histogram + scan-statistic checksum
    Gate("q_changepoint", (s, dir) =>
      Synth.demEpochStacks(s, dir, 6)
        .withColumn("r", explode(graft.ops.Terrain.changepointAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("t_star"),
          col("r._2").as("n_px"), col("r._3").as("dsum"))
        .where(col("n_px") > 0)
        .orderBy("image_id", "t_star"),
      // CUSUM scan over the 6-epoch stack: D_s = 6·cumsum_{s} − s·total,
      // s* = argmax |D_s| with smallest-s tie via MAX(struct(|D|, −s))
      Some(s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |ttv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |tcum AS (SELECT k, image_id, x, y, t,
         |           SUM(v) OVER (PARTITION BY k, x, y ORDER BY t) AS cm,
         |           SUM(v) OVER (PARTITION BY k, x, y) AS tot
         |         FROM ttv),
         |tds AS (SELECT k, image_id, x, y, t + 1 AS s,
         |          ABS(6*cm - (t+1)*tot) AS ad
         |        FROM tcum WHERE t < 5),
         |tbest AS (SELECT k, image_id, x, y,
         |            (MAX(struct_pack(a := ad, b := -s))).b AS nb,
         |            (MAX(struct_pack(a := ad, b := -s))).a AS ad
         |          FROM tds GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(-nb AS BIGINT) AS t_star,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(ad) AS BIGINT) AS dsum
         |FROM tbest GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // tile write/stitch round trip: padded tile slices (read(chunk))
    // de-padded and re-assembled per image (write(chunk) inverse) —
    // sums must equal the direct band-0 decode (identity oracle)
    Gate("q_tile_stitch", (s, dir) =>
      Tiling.stitch(
          Tiling.tileSlices(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
            chunkBytes = 2048, padding = 2))
        .orderBy("image_id"),
      // stitched plane == direct band-0 sums (same closed forms as the
      // identity warp)
      Some(s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 0
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id, CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin)),

    // ASPECT-RATIO bucketed batching (multimodal training batch
    // assembly): nearest AR bucket from a 9-ratio lattice (exact
    // integer numerator, one IEEE divide; ties → lowest bucket), md5
    // writer sharding, fixed-size (8) batches per (writer, bucket)
    Gate("q_ar_buckets", (s, dir) =>
      graft.ops.Sharding.arBuckets(Synth.images(s, dir), Synth.ArLattice, 8, 4)
        .orderBy("image_id"),
      // AR bucketing replay: argmin over the 9-ratio lattice of the IEEE
      // double |w*bh - h*bw| / bh (exact integer numerator, one
      // correctly-rounded divide — bit-identical across engines), ties
      // -> lowest bucket index; md5 writer; row_number batching
      Some(s"""WITH $I,
         |bks(i, bw, bh) AS (VALUES (0,1,1),(1,4,3),(2,3,4),(3,16,9),
         |  (4,9,16),(5,3,2),(6,2,3),(7,2,1),(8,1,2)),
         |sc AS (SELECT g.image_id, b.i, b.bw, b.bh,
         |         ROW_NUMBER() OVER (PARTITION BY g.image_id ORDER BY
         |           CAST(ABS(g.w*b.bh - g.h*b.bw) AS DOUBLE) / b.bh,
         |           b.i) AS rk
         |       FROM img2 g CROSS JOIN bks b),
         |asg AS (SELECT image_id, i, bw, bh,
         |          ${Md5BucketSql("image_id")} % 4 AS writer
         |        FROM sc WHERE rk = 1),
         |bt AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY writer, i
         |         ORDER BY image_id) - 1 AS rn FROM asg)
         |SELECT image_id, CAST(i AS BIGINT) AS bucket,
         |  CAST(bw AS BIGINT) AS bw, CAST(bh AS BIGINT) AS bh,
         |  CAST(writer AS BIGINT) AS writer,
         |  CAST(rn // 8 AS BIGINT) AS batch_idx,
         |  CAST(rn % 8 AS BIGINT) AS slot
         |FROM bt ORDER BY image_id""".stripMargin)),

    // polygonize-lite (the vector step over blob labels): one row per
    // component with exact-integer bbox, size, and 4-neighborhood
    // PERIMETER (pixel edges facing non-component cells, image border
    // included) — what sieve/polygonize emits before ring tracing
    Gate("q_polygonize", (s, dir) => {
      val pg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Pixels
        val fg = Synth.stripeMask(bytes, w, h, fmt)
        val lab = Pixels.labelComponents(fg, w, h)
        // per label: size, bbox, perimeter
        val agg = new java.util.TreeMap[Int, Array[Long]]()
        var i = 0
        while (i < lab.length) {
          val l = lab(i)
          if (l >= 0) {
            val x = i % w; val y = i / w
            val a = agg.computeIfAbsent(l,
              _ => Array(0L, x, y, x, y, 0L)) // size,x0,y0,x1,y1,perim
            a(0) += 1
            if (x < a(1)) a(1) = x
            if (y < a(2)) a(2) = y
            if (x > a(3)) a(3) = x
            if (y > a(4)) a(4) = y
            var p = 0L
            if (x == 0 || lab(i - 1) != l) p += 1
            if (x == w - 1 || lab(i + 1) != l) p += 1
            if (y == 0 || lab(i - w) != l) p += 1
            if (y == h - 1 || lab(i + w) != l) p += 1
            a(5) += p
          }
          i += 1
        }
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long, Long)]
        val it = agg.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next(); val a = e.getValue
          out += ((e.getKey.toLong, a(0), a(1), a(2), a(3), a(4), a(5)))
        }
        out.result()
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("pc", explode(pg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"), col("pc._1").as("label"),
          col("pc._2").as("size"), col("pc._3").as("bx0"),
          col("pc._4").as("by0"), col("pc._5").as("bx1"),
          col("pc._6").as("by1"), col("pc._7").as("perimeter"))
        .orderBy("image_id", "label")
    },
      Some(s"""WITH RECURSIVE $I, $B, $SimgCte,
         |pgoffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |pgm0 AS (
         |  $StripeMaskSelect),
         |pgf(k, x, y, lab, it) AS (
         |  SELECT k, x, y, y*w + x, 0 FROM pgm0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.lab, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MIN(t.lab) AS lab, MAX(t.it) AS it
         |    FROM pgf t CROSS JOIN pgoffs o
         |    GROUP BY 1, 2, 3
         |  ) c JOIN pgm0 m ON m.k = c.k AND m.x = c.x AND m.y = c.y
         |  WHERE c.it < 144),
         |pgl AS (SELECT k, x, y, lab FROM pgf WHERE it = 144),
         |pgnb AS (SELECT a.k, a.x, a.y, a.lab,
         |    CAST(COUNT(b.lab) AS BIGINT) AS same
         |  FROM pgl a
         |  CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1)) o(dx, dy)
         |  LEFT JOIN pgl b ON b.k = a.k AND b.x = a.x + o.dx
         |    AND b.y = a.y + o.dy AND b.lab = a.lab
         |  GROUP BY a.k, a.x, a.y, a.lab)
         |SELECT s.image_id, CAST(n.lab AS BIGINT) AS label,
         |  CAST(COUNT(*) AS BIGINT) AS size,
         |  CAST(MIN(n.x) AS BIGINT) AS bx0,
         |  CAST(MIN(n.y) AS BIGINT) AS by0,
         |  CAST(MAX(n.x) AS BIGINT) AS bx1,
         |  CAST(MAX(n.y) AS BIGINT) AS by1,
         |  CAST(SUM(4 - n.same) AS BIGINT) AS perimeter
         |FROM pgnb n JOIN simg s ON s.k = n.k
         |GROUP BY s.image_id, n.lab
         |ORDER BY s.image_id, label""".stripMargin)),

    // Broder containment (asymmetric near-dup: embedded copies):
    // both directions as exact scaled integers, keep when the larger
    // direction ≥ 1% — the verification metric for length-skewed
    // pairs that Jaccard dilutes
    Gate("q_containment", (s, dir) =>
      graft.text.TextOps.containmentPairs(
          Synth.documents(s, dir).where(col("doc_id") < 100), 10000L)
        .orderBy("id_a", "id_b"),
      // containment replay: same shingle sets, exact floored scaled
      // ratios in both directions, greatest-direction threshold
      Some(s"""WITH $TokCte,
         |t AS (SELECT doc_id, list_distinct(
         |        CASE WHEN len(ts) >= 3 THEN
         |          list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |        ELSE [text] END) AS sh
         |      FROM tok WHERE doc_id < 100),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         |        CAST(len(a.sh) AS BIGINT) AS n_a,
         |        CAST(len(b.sh) AS BIGINT) AS n_b
         |      FROM t a, t b WHERE a.doc_id < b.doc_id),
         |q AS (SELECT id_a, id_b, n_inter, n_a, n_b,
         |        CAST((1000000 * n_inter) // n_a AS BIGINT) AS cont_a,
         |        CAST((1000000 * n_inter) // n_b AS BIGINT) AS cont_b
         |      FROM p)
         |SELECT id_a, id_b, n_inter, n_a, n_b, cont_a, cont_b FROM q
         |WHERE GREATEST(cont_a, cont_b) >= 10000
         |ORDER BY id_a, id_b""".stripMargin)),

    // 2-D skyline (Pareto frontier) of users over (event count,
    // Σ⌊100·value⌋), maximize both — per-d1 max collapse + strict-
    // prefix-max frontier broadcast, never the all-pairs dominance
    // join the oracle replays
    Gate("q_skyline", (s, dir) => {
      val ev = Synth.events(s, dir)
      val pts = ev.groupBy("user_id").agg(
        count(lit(1)).cast("long").as("n_events"),
        sum(floor(col("value") * 100).cast("long")).cast("long").as("vsum"))
      graft.ops.Relational.skyline2d(pts).orderBy("user_id")
    },
      // skyline ground truth: the quadratic NOT-EXISTS strict-dominance
      // definition the bucketed prefix-max plan must reproduce exactly
      Some("""WITH sky AS (SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS vsum
        |  FROM events GROUP BY 1)
        |SELECT a.user_id, a.n_events, a.vsum FROM sky a
        |WHERE NOT EXISTS (SELECT 1 FROM sky b
        |  WHERE b.n_events >= a.n_events AND b.vsum >= a.vsum
        |    AND (b.n_events > a.n_events OR b.vsum > a.vsum))
        |ORDER BY user_id""".stripMargin)),

    // multi-object IoU tracklet linking over 4-frame video sequences
    // (IoU-tracker association, mutual-best rule): consecutive-frame
    // detections link iff quantized IoU > 0.5 and each is the other's
    // argmax; every detection is labeled with its track origin.
    // Fully relational — one frame→frame+1 self-join + two windows +
    // a 3-step pointer walk, all keyed on the video id.
    Gate("q_track_iou", (s, dir) =>
      graft.ops.Boxes.iouTracks(
          synthTrackDets(s, dir).withColumnRenamed("image_id", "vid"),
          maxFrame = 4)
        .withColumnRenamed("vid", "image_id")
        .orderBy("image_id", "f", "box_id"),
      // IoU-tracker ground truth: the same fixture arithmetic, mutual
      // argmax via two ROW_NUMBER windows on quantized IoU, then the
      // 3-step origin pointer walk as chained LEFT JOINs
      Some(trackOracleSql)),

    // vector→raster burn (GDAL RasterizeLayer parity): per-feature
    // bbox cell enumeration + center PIP + MAX(fid) overlay; oracle
    // replays the L-ring as its exact 2-rect decomposition
    Gate("q_rasterize", (s, dir) =>
      graft.ops.SpatialJoin.rasterizeBurn(Synth.polygonsL(s, dir), 1000L)
        .orderBy("fid"),
      // rasterize ground truth: bbox cells via generate_series (integer
      // floor-div bounds), center-in-L-ring via the exact 2-rect
      // decomposition (same half-open edges the zonal oracle pins),
      // MAX(fid) overlay, per-fid census
      Some(s"""WITH $P,
         |rlc AS (SELECT *, px0m + pwm//2 AS cutx, py0m + phm//2 AS cuty
         |        FROM poly2),
         |rcx AS (SELECT fid,
         |          unnest(generate_series(px0m//1000 - 1,
         |            px1m//1000 + 1)) AS cx
         |        FROM rlc),
         |rcl AS (SELECT c.fid, c.cx,
         |          unnest(generate_series(l.py0m//1000 - 1,
         |            l.py1m//1000 + 1)) AS cy
         |        FROM rcx c JOIN rlc l ON l.fid = c.fid),
         |rin AS (SELECT z.fid, z.cx, z.cy
         |        FROM rcl z JOIN rlc p ON p.fid = z.fid
         |        WHERE (z.cx*1000+500 >= p.px0m AND z.cx*1000+500 < p.px1m
         |           AND z.cy*1000+500 >= p.py0m AND z.cy*1000+500 < p.cuty)
         |           OR (z.cx*1000+500 >= p.px0m AND z.cx*1000+500 < p.cutx
         |           AND z.cy*1000+500 >= p.cuty
         |           AND z.cy*1000+500 < p.py1m)),
         |rwin AS (SELECT cx, cy, MAX(fid) AS fid FROM rin GROUP BY 1, 2)
         |SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_owned,
         |  CAST(SUM(cx) AS BIGINT) AS cx_sum,
         |  CAST(SUM(cy) AS BIGINT) AS cy_sum
         |FROM rwin GROUP BY fid ORDER BY fid""".stripMargin)),

    // cross-image near-dup TILE groups (shared logo/watermark/crop
    // detection): brightness-invariant 16×16 patch signatures
    // (Σ(v−v0)·li), grouped corpus-wide, kept where ≥2 distinct
    // images share a signature — sub-image dedup, the crop-level
    // counterpart of q_dedup_images
    Gate("q_tile_neardup", (s, dir) => {
      val pat = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        graft.ops.Augment.patchSig(p, w, h, 16)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("t", explode(pat(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"), col("t._3").as("n_valid"),
          col("t._4").as("sig"))
        .where(col("n_valid") > 0)
        .groupBy("n_valid", "sig")
        .agg(count(lit(1)).as("n_tiles"),
          countDistinct(col("image_id")).as("n_imgs"))
        .where(col("n_imgs") >= 2)
        .orderBy("n_valid", "sig")
    },
      // tile near-dup ground truth: per-patch first-valid value via
      // struct MIN on the local index, brightness-cancelled signature
      // swl − v0·sl, corpus-wide group census
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |tnp AS (SELECT k, x//16 AS tpx, y//16 AS tpy,
         |          MIN(struct_pack(li := (y%16)*16 + (x%16), v := v))
         |            AS f,
         |          SUM(v*((y%16)*16 + (x%16))) AS swl,
         |          SUM((y%16)*16 + (x%16)) AS sl,
         |          COUNT(*) AS n
         |        FROM px WHERE b = 0 GROUP BY 1, 2, 3),
         |tns AS (SELECT k, CAST(n AS BIGINT) AS n_valid,
         |          CAST(swl - (f).v * sl AS BIGINT) AS sig FROM tnp)
         |SELECT n_valid, sig, CAST(COUNT(*) AS BIGINT) AS n_tiles,
         |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_imgs
         |FROM tns GROUP BY 1, 2 HAVING COUNT(DISTINCT k) >= 2
         |ORDER BY 1, 2""".stripMargin))
  )
}
