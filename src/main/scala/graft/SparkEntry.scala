package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.{OracleCte, Synth}
import graft.index.CellGrid
import graft.ops.{Algorithms, Audio, Bands, Indices, Knn, Mosaic, SpatialJoin, Stats, Tiling, Warp}

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` mirror)
  * per implemented operator from SURVEY.md §2. The geospatial input
  * tables are derived DETERMINISTICALLY (integer arithmetic) from the
  * driver's parquet (`part`→images, `nation`→polygons; see
  * [[graft.gen.Synth]]), so the DuckDB oracle re-derives identical
  * tables and every operator gets a value-exact check.
  */
object SparkEntry {

  val JoinRes = 7 // covering-cell resolution (4096 mdeg ≈ 4.1°)

  private def imgs(s: SparkSession, dir: String): DataFrame =
    Synth.images(s, dir)

  /** AR-bucket lattice for q_ar_buckets (square, 4:3 pair, 16:9 pair,
    * 3:2 pair, 2:1 pair — the usual multimodal-training ratio set). */
  private val ArLattice = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16),
    (3, 2), (2, 3), (2, 1), (1, 2))
  private def polys(s: SparkSession, dir: String): DataFrame =
    Synth.polygons(s, dir)

  private def overlapArea =
    (least(col("x1m"), col("px1m")) - greatest(col("x0m"), col("px0m"))) *
    (least(col("y1m"), col("py1m")) - greatest(col("y0m"), col("py0m")))

  /** Flagship: the spatial join at sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    SpatialJoin.joinRects(
      imgs(spark, "/root/testdata/sf0.001"),
      polys(spark, "/root/testdata/sf0.001"), JoinRes)
      .select(col("image_id"), col("fid"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- audio modality (opaque PCM payload + typed metadata; the
    // third leg of the multimodal contract next to images and video —
    // graft.ops.Audio) ----
    "q_audio_meta" -> ((s, dir) =>
      Synth.audio(s, dir)
        .groupBy("sr", "lang")
        .agg(count(lit(1)).as("n_clips"),
          sum(floor(col("n") * 1000 / col("sr"))).as("total_ms"))
        .orderBy("sr", "lang")),

    "q_audio_stats" -> ((s, dir) =>
      Audio.clipStats(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id")),

    "q_audio_trim" -> ((s, dir) =>
      Audio.trimBounds(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id")),

    "q_audio_resample" -> ((s, dir) =>
      Audio.resampleTo(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id")),

    "q_audio_frames" -> ((s, dir) =>
      Audio.frameEnergies(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 12 === 1)))
        .orderBy("audio_id", "frame_no")),

    "q_audio_vad" -> ((s, dir) =>
      Audio.vadSegments(Audio.frameEnergies(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 12 === 1))))
        .orderBy("audio_id", "seg_no")),

    "q_audio_fingerprint" -> ((s, dir) =>
      Audio.fingerprints(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id")),

    "q_audio_neardup" -> ((s, dir) =>
      Audio.nearDup(Synth.audioWithBytes(s, dir,
          _.where(col("k") % 3 === 1), twins = true))
        .orderBy("id_a", "id_b")),

    "q_audio_pitch" -> ((s, dir) =>
      Audio.pitchLag(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 12 === 1)))
        .orderBy("audio_id")),

    "q_audio_normalize" -> ((s, dir) =>
      Audio.normalizePeak(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id")),

    "q_audio_pack" -> ((s, dir) =>
      Audio.packWindows(Synth.audio(s, dir)).orderBy("audio_id")),

    // composed 5-stage audio curation (the q_curate / q_curate_images /
    // q_curate_video symmetry for the third modality): signal-stats
    // filter → VAD voiced-coverage floor → pitch plausibility →
    // fingerprint near-dup excision — every stage exact, the oracle
    // replays the whole composition from the per-sample CTE
    "q_curate_audio" -> ((s, dir) => {
      val awb = Synth.audioWithBytes(s, dir,
        _.where(col("k") % 3 === 1), twins = true)
      val s1 = Audio.clipStats(awb)
        .where(col("n_silent") * 5 <= col("n_samples") &&
               col("max_abs") >= 500)
      val fe = Audio.frameEnergies(awb)
      val vv = fe.groupBy("audio_id").agg(
        sum(when(col("energy") >= Audio.VadEnergyMin, 1L)
          .otherwise(0L)).as("nf_voiced"),
        count(lit(1)).as("nf_total"))
      val s2 = s1.join(vv, "audio_id")
        .where(col("nf_voiced") * 3 >= col("nf_total") * 2)
      val s3 = s2.join(Audio.pitchLag(awb), "audio_id")
        .where(col("best_lag") <= 240)
      val dups = Audio.nearDup(awb)
        .select(col("id_b").as("audio_id")).distinct()
      s3.join(dups, Seq("audio_id"), "left_anti")
        .select("audio_id", "n_samples", "sum_sq", "best_lag")
        .orderBy("audio_id")
    }),

    "q_images_meta" -> ((s, dir) =>
      imgs(s, dir)
        .select(col("image_id"), col("w"), col("h"), col("fmt"), col("nw"),
          col("caption"), col("x0m"), col("y0m"), col("x1m"), col("y1m"))
        .orderBy("image_id")),

    "q_cells_cover" -> ((s, dir) =>
      SpatialJoin.withCoverCells(imgs(s, dir), JoinRes, "x0m", "y0m", "x1m", "y1m")
        .select(col("image_id"), col("cix"), col("ciy"),
          (lit(JoinRes.toLong * CellGrid.ResMul) +
           col("cix") * CellGrid.IxMul + col("ciy")).as("cell_id"))
        .orderBy("image_id", "cell_id")),

    // multi-granularity OLAP CUBE over (fmt, nodata-width): all four
    // grouping sets in one pass (Catalyst expands to a single
    // shuffle with grouping-id)
    "q_cube" -> ((s, dir) =>
      imgs(s, dir)
        .cube(col("fmt"), col("nw"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("w") * col("h")).as("px_sum"))
        .orderBy(col("fmt").asc_nulls_first, col("nw").asc_nulls_first)),

    // z-order layout keys at res 10 (Morton interleave of the
    // min-corner cell) — the spatial-clustering write key
    "q_zorder" -> ((s, dir) =>
      SpatialJoin.zOrdered(imgs(s, dir), 10)
        .select("image_id", "zix", "ziy", "z")
        .orderBy("z", "image_id")),

    // standard base-32 geohash (lon-first interleave, 5 bits/char) of
    // the footprint origin, 8 chars + the 4-char prefix (the
    // interoperable cell key alongside Morton/Hilbert) — exact
    // integer bisection bits, pure codegen arithmetic
    "q_geohash" -> ((s, dir) =>
      imgs(s, dir)
        .withColumn("gh8",
          SpatialJoin.geohash(col("x0m"), col("y0m"), 8))
        .withColumn("gh4", substring(col("gh8"), 1, 4))
        .select("image_id", "gh8", "gh4")
        .orderBy("image_id")),

    // Bing-maps quadkey of the footprint origin tile (pitch 4096
    // mdeg, 7 levels): the XYZ tile-pyramid serving key — a parent
    // tile's key is its children's string PREFIX (qk4 = the level-4
    // ancestor), pure codegen base-4 interleave, no UDF
    "q_quadkey" -> ((s, dir) =>
      imgs(s, dir)
        .withColumn("tx", expr("CAST((x0m + 150000) div 4096 AS BIGINT)"))
        .withColumn("ty", expr("CAST((y0m + 60000) div 4096 AS BIGINT)"))
        .withColumn("qk7", SpatialJoin.quadkey(col("tx"), col("ty"), 7))
        .withColumn("qk4", substring(col("qk7"), 1, 4))
        .select("image_id", "qk7", "qk4")
        .orderBy("image_id")),

    // tile-pyramid rollup on the quadkey PREFIX property: per-level-4
    // ancestor tile image counts — one scan + a ≤4^4-key shuffle (the
    // serving-side density summary; corpus-size-independent keyspace)
    "q_quadkey_rollup" -> ((s, dir) =>
      imgs(s, dir)
        .withColumn("tx", expr("CAST((x0m + 150000) div 4096 AS BIGINT)"))
        .withColumn("ty", expr("CAST((y0m + 60000) div 4096 AS BIGINT)"))
        .groupBy(substring(SpatialJoin.quadkey(col("tx"), col("ty"), 7),
          1, 4).as("tile"))
        .agg(count(lit(1)).as("n_images"))
        .orderBy("tile")),

    // hierarchical cell-density rollup: one image scan builds the
    // res-10 summary; res-7 derives from it by parent-shift arithmetic
    // alone (shuffle over ≤ #cells rows, corpus-size independent)
    "q_cell_rollup" -> ((s, dir) =>
      SpatialJoin.cellPyramid(imgs(s, dir), 10, JoinRes)
        .orderBy("cell_id")),

    "q_spatial_join" -> ((s, dir) =>
      SpatialJoin.joinRects(imgs(s, dir), polys(s, dir), JoinRes)
        .select(col("image_id"), col("fid"), overlapArea.as("overlap_area"))
        .orderBy("image_id", "fid")),

    "q_spatial_join_agg" -> ((s, dir) =>
      SpatialJoin.joinRects(imgs(s, dir), polys(s, dir), JoinRes)
        .groupBy(col("fid"))
        .agg(count(lit(1)).as("n_images"),
             sum(overlapArea).as("area_sum"))
        .orderBy("fid")),

    "q_spatial_join_salted" -> ((s, dir) =>
      SpatialJoin.joinRects(imgs(s, dir), polys(s, dir), JoinRes,
          broadcastPolys = false, salt = 8)
        .select(col("image_id"), col("fid"), overlapArea.as("overlap_area"))
        .orderBy("image_id", "fid")),

    // bloom-prefiltered shuffled join: rows identical to
    // q_spatial_join (same oracle), pruning spec-asserted
    "q_spatial_join_bloom" -> ((s, dir) =>
      SpatialJoin.joinRectsBloom(imgs(s, dir), polys(s, dir), JoinRes)
        .select(col("image_id"), col("fid"), overlapArea.as("overlap_area"))
        .orderBy("image_id", "fid")),

    "q_spatial_anti" -> ((s, dir) =>
      SpatialJoin.joinRectsAnti(imgs(s, dir), polys(s, dir), JoinRes)
        .select(col("image_id")).orderBy("image_id")),

    "q_knn" -> ((s, dir) => {
      val im = imgs(s, dir)
        .withColumn("cxm", col("x0m") + col("w") * 2)
        .withColumn("cym", col("y0m") + col("h") * 2)
        .select("image_id", "cxm", "cym")
      val q = polys(s, dir)
        .select(col("fid").as("qid"),
          (col("px0m") + Tiling.idiv(col("pwm"), lit(2L))).as("qxm"),
          (col("py0m") + Tiling.idiv(col("phm"), lit(2L))).as("qym"))
      Knn.knn(s, im, q, 5, JoinRes)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("image_id"), col("dist2"))
        .orderBy("qid", "rank")
    }),

    "q_tiles" -> ((s, dir) =>
      Tiling.tiles(imgs(s, dir), 8192)
        .select(col("image_id"), col("tile_idx"), col("ty0"), col("ty1"),
          col("th"))
        .orderBy("image_id", "tile_idx")),

    "q_tiles_pad" -> ((s, dir) =>
      Tiling.tilesNum(imgs(s, dir), 4, padding = 2)
        .select(col("image_id"), col("tile_idx"), col("ty0"), col("ty1"),
          col("pty0"), col("pty1"))
        .orderBy("image_id", "tile_idx")),

    "q_crop_rects" -> ((s, dir) =>
      SpatialJoin.cropRects(
          SpatialJoin.joinRects(imgs(s, dir), polys(s, dir), JoinRes))
        .select(col("image_id"), col("fid"), col("cpx0"), col("cpy0"),
          col("cpx1"), col("cpy1"))
        .orderBy("image_id", "fid")),

    "q_band_stats" -> ((s, dir) =>
      Stats.bandStats(
          Synth.imagesWithBytes(s, dir,
            _.where(col("k") % 6 === 1 || col("k") % 6 === 2),
            spread = true),
          Synth.NumBands)
        .orderBy("image_id", "band")),

    // COMPRESSED-payload twin: the same stats kernel over real PNG
    // bytes (javax.imageio encode in Synth.encodeImage, decode in
    // Codec.decode) — png is lossless 8-bit gray, so the oracle can
    // restate the pixel law (1 + ramp % 255, stored band 0 only) and
    // the gate is value-exact THROUGH the compressed codec, closing
    // the "every oracle gate runs on raw-* fmts" evidence gap
    "q_band_stats_png" -> ((s, dir) =>
      Stats.bandStats(
          Synth.imagesWithBytes(s, dir,
            _.where(col("fmt") === "png" &&
                    col("w") <= 96 && col("h") <= 96)),
          Synth.NumBands)
        .orderBy("image_id", "band")),

    // corpus per-channel normalization constants (dataset mean/std
    // inputs): exact integer partials, nb-key map-side-combined reduce
    "q_channel_norm" -> ((s, dir) =>
      Stats.channelNorm(
          Synth.imagesWithBytes(s, dir,
            _.where(col("k") % 6 === 1 || col("k") % 6 === 2),
            spread = true),
          Synth.NumBands)
        .orderBy("band")),

    // ---- warp / mosaic grid math ----
    // FULL DTYPE LATTICE: transcode each small exact-codec payload into
    // the four new raw dtypes (u16/u32/i32/f64 — completing the
    // reference's 7-type lattice) and re-derive band stats from the
    // transcoded bytes; values survive every dtype exactly (they fit
    // u16), so the oracle states one closed form for all four fmts
    "q_dtype_stats" -> ((s, dir) => {
      val fmts = Seq("raw-u16le", "raw-u32le", "raw-i32le", "raw-f64le")
      val tr = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                    dst: String) =>
        graft.core.Codec.encode(
          graft.core.Codec.decode(bytes, w, h, Synth.NumBands, fmt),
          w, h, dst))
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("dfmt", explode(array(fmts.map(lit): _*)))
        .withColumn("bytes2", tr(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("dfmt")))
        .withColumn("bs", explode(Stats.bandStatsUdf(
          col("bytes2"), col("w").cast("int"), col("h").cast("int"),
          col("dfmt"), lit(Synth.NumBands))))
        .select(col("image_id"), col("dfmt"),
          col("bs._1").as("band"), col("bs._2").as("cnt"),
          col("bs._3").as("vsum"), col("bs._4").as("vmin"),
          col("bs._5").as("vmax"), col("bs._6").as("vsumsq"))
        .orderBy("image_id", "dfmt", "band")
    }),

    // RESIZE/thumbnail (standardize-resolution for vision training):
    // band 0 → 16×16 nearest with the exact integer pixel-center index
    // map — thumbnail aggregates value-exact vs the SQL index replay
    "q_resize" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("rz", Bands.resizeAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(16), lit(16)))
        .select(col("image_id"), col("rz._1").as("n_valid"),
          col("rz._2").as("vsum"))
        .orderBy("image_id")),

    // aspect-preserving letterbox to 16×16 (centre pad): per-image
    // content window + exact content aggregates
    "q_letterbox" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("lb", Bands.letterboxAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(16)))
        .select(col("image_id"),
          col("lb._1").cast("long").as("cw"),
          col("lb._2").cast("long").as("ch"),
          col("lb._3").cast("long").as("pad_top"),
          col("lb._4").cast("long").as("pad_left"),
          col("lb._5").as("n_valid"), col("lb._6").as("vsum"))
        .orderBy("image_id")),

    "q_warp_grid" -> ((s, dir) => {
      val g = udf((x0: Long, y0: Long, x1: Long, y1: Long) => {
        val gr = Warp.outputGrid(
          graft.core.Geom.BBoxD(x0.toDouble, y0.toDouble, x1.toDouble, y1.toDouble),
          10.0, 10.0)
        (gr.w.toLong, gr.h.toLong)
      })
      imgs(s, dir)
        .withColumn("g", g(col("x0m"), col("y0m"), col("x1m"), col("y1m")))
        .select(col("image_id"), col("g._1").as("out_w"), col("g._2").as("out_h"))
        .orderBy("image_id")
    }),

    "q_warp_grid_crop" -> ((s, dir) => {
      val g = udf((x0: Long, y0: Long, x1: Long, y1: Long,
                   fx0: Long, fy0: Long, fx1: Long, fy1: Long) => {
        import graft.core.Geom.BBoxD
        val ext = Warp.cropAnchoredExtent(
          BBoxD(x0.toDouble, y0.toDouble, x1.toDouble, y1.toDouble),
          BBoxD(fx0.toDouble, fy0.toDouble, fx1.toDouble, fy1.toDouble),
          10.0, 10.0)
        val gr = Warp.outputGrid(ext, 10.0, 10.0)
        (ext.x0.toLong, ext.y1.toLong, gr.w.toLong, gr.h.toLong)
      })
      imgs(s, dir).withColumn("fid", col("k") % 25)
        .join(broadcast(polys(s, dir)), Seq("fid"))
        .where(col("x0m") < col("px1m") && col("px0m") < col("x1m") &&
               col("y0m") < col("py1m") && col("py0m") < col("y1m"))
        .withColumn("g", g(col("x0m"), col("y0m"), col("x1m"), col("y1m"),
          col("px0m"), col("py0m"), col("px1m"), col("py1m")))
        .select(col("image_id"), col("fid"), col("g._1").as("x0a"),
          col("g._2").as("y1a"), col("g._3").as("cw"), col("g._4").as("ch"))
        .orderBy("image_id")
    }),

    "q_mosaic_extent" -> ((s, dir) =>
      Mosaic.unionExtent(
          imgs(s, dir).withColumn("gid", col("k") % 50), 10L)
        .select(col("gid"), col("ux0"), col("uy0"), col("ux1"), col("uy1"),
          col("out_w"), col("out_h"))
        .orderBy("gid")),

    "q_overlay_order" -> ((s, dir) =>
      Mosaic.overlayOrder(imgs(s, dir),
          polys(s, dir).where(col("fid") < 3), 9)
        .orderBy("fid", "cix", "ciy")),

    // ---- pixel math (small raw-codec class: w,h ≤ 64, i16/f32) ----
    "q_indices_stats" -> ((s, dir) =>
      Indices.indexStats(Synth.imagesWithBytes(s, dir, smallRaw),
          Indices.All, Synth.NumBands)
        .orderBy("image_id", "product")),

    "q_histogram" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("hb", explode(Stats.histogramUdf(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(2), lit(16))))
        .select(col("image_id"), col("hb._1").as("bin"), col("hb._2").as("cnt"))
        .where(col("cnt") > 0)
        .orderBy("image_id", "bin")),

    // corpus-wide merged histogram over COMMON bins (the mergeable
    // path to distributed quantiles) — band 2, 16 bins
    "q_corpus_hist" -> ((s, dir) =>
      Stats.corpusHistogram(Synth.imagesWithBytes(s, dir, smallRaw),
          Synth.NumBands, 2, 16)
        .orderBy("bin")),

    "q_percentile" -> ((s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
      def p(pct: Double) = floor(Stats.percentileUdf(col("bytes"),
        col("w").cast("int"), col("h").cast("int"), col("fmt"),
        lit(Synth.NumBands), lit(3), lit(pct)) * 1e6).cast("long")
      im.select(col("image_id"), p(25).as("fp25"), p(50).as("fp50"),
        p(75).as("fp75")).orderBy("image_id")
    }),

    "q_laplacian" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("la", Stats.laplacianAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("la._1").as("n_valid"),
          col("la._2").as("lap_sum"))
        .orderBy("image_id")),

    "q_convolve_box" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("cv", Stats.convolveBoxAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("cv._1").as("n_valid"),
          col("cv._2").as("fsum"))
        .orderBy("image_id")),

    "q_spectral_stats" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("sp", Stats.spectralAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("sp._1").as("n_px"),
          col("sp._2").as("mean_fsum"), col("sp._3").as("sd_fsum"))
        .orderBy("image_id")),

    // zonal stats: spatial join + per-polygon masked pixel rollup
    // (extract-by-vector) — pixel-center-in-rect rule, exact BIGINTs
    "q_zonal_stats" -> ((s, dir) =>
      Stats.zonalStats(Synth.imagesWithBytes(s, dir, smallRaw),
          Synth.polygons(s, dir), Synth.NumBands)
        .orderBy("fid")),

    // categorical zonal statistics: majority/minority/diversity of
    // the 256-quantized band-0 value per polygon zone — the kernel
    // ships per-pair histograms (≤ bins rows), never pixels
    "q_zonal_majority" -> ((s, dir) =>
      Stats.zonalMajority(Stats.zonalHist(
          Synth.imagesWithBytes(s, dir, smallRaw),
          Synth.polygons(s, dir), Synth.NumBands, 256L))
        .orderBy("fid")),

    // ARBITRARY-RING zonal stats (extract-by-vector on a CONCAVE
    // polygon): ray-cast pixel-center inclusion against the L-ring
    // layer — the engine's generic PIP; the oracle states the same
    // inclusion as the union of two half-open rects (exact for
    // axis-aligned rings under the PIP's half-open crossing rule)
    "q_zonal_poly" -> ((s, dir) =>
      Stats.zonalStatsPoly(Synth.imagesWithBytes(s, dir, smallRaw),
          Synth.polygonsL(s, dir), Synth.NumBands)
        .orderBy("fid")),

    // ---- lineage / resumable table (rows-only; hash bucketing is
    // Spark-murmur3, not SQL-reproducible) ----
    "q_lineage_metrics" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_q").toString
      graft.table.Lineage.writeResumable(s,
        imgs(s, dir).select("image_id", "k", "w", "h"), root, "image_id", 8)
      // resume is a no-op on a committed table
      assert(graft.table.Lineage.writeResumable(s,
        imgs(s, dir).select("image_id", "k", "w", "h"), root, "image_id", 8) == 0)
      // compaction (snapshot-swap to gen 1) must preserve every row
      val before = graft.table.Lineage.read(s, root).count()
      graft.table.Lineage.compact(s, root, maxFiles = 1)
      assert(graft.table.Lineage.read(s, root).count() == before)
      // per-bucket row counts are DISTINCT over commit lines (gens
      // repeat the same rows; whether compaction fired depends on the
      // file layout, so the gen column itself is not oracle-stable) —
      // the counts are pure murmur3(image_id) bucketing, which the
      // DuckDB oracle replays bit-exactly
      graft.table.Lineage.metrics(s, root)
        .select(col("part").cast("long").as("part"), col("rows"))
        .distinct()
        .orderBy("part")
    }),

    // ZONE-MAP pruned range scan (Iceberg lower/upper-bounds stats):
    // the table is range-bucketed on k, each commit line carries the
    // bucket's exact [lo, hi], and the scan reads ONLY overlapping
    // buckets — asserted strictly narrower than the full table before
    // the result is returned. Pruning is transparent to the rows, so
    // the oracle is the plain range filter.
    "q_lineage_range" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_rng_q").toString
      graft.table.Lineage.writeRangeResumable(s,
        imgs(s, dir).select("image_id", "k", "w", "h"), root, "k", 8)
      val (sel, total) = graft.table.Lineage.prunedParts(root, 50, 150)
      assert(sel.size < total, s"zone maps must prune: ${sel.size}/$total")
      graft.table.Lineage.readRange(s, root, "k", 50, 150)
        .select(col("image_id"), col("k"), col("w"), col("h"))
        .orderBy("k")
    }),

    // Equality BUCKET-PRUNING point lookups on the hash layout
    // (Iceberg bucket-transform partition pruning): each lookup
    // recomputes the writer's bucket and opens that one directory
    "q_lineage_lookup" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_pt_q").toString
      graft.table.Lineage.writeResumable(s,
        imgs(s, dir).select("image_id", "k", "w", "h"), root, "image_id", 8)
      Seq("img-3", "img-77", "img-150")
        .map(id => graft.table.Lineage.readForKey(s, root, "image_id", id, 8))
        .reduce(_ unionByName _)
        .select(col("image_id"), col("k"), col("w"), col("h"))
        .orderBy("k")
    }),

    // Copy-on-write MERGE (Iceberg MERGE INTO): a small delta (2
    // updates + 2 inserts) upserts into the committed table; the
    // rewrite is BUCKET-PRUNED (asserted strictly fewer buckets than
    // the table has) and the oracle replays plain merge semantics
    "q_lineage_merge" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_mrg_q").toString
      val base = imgs(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(s, base, root, "image_id", 8)
      import s.implicits._
      val upd = base.where(col("image_id").isin("img-3", "img-77"))
        .withColumn("w", col("w") + 1000)
      val ins = Seq(("img-new-1", 9000001L, 42L, 24L),
                    ("img-new-2", 9000002L, 50L, 30L))
        .toDF("image_id", "k", "w", "h")
      val rewritten = graft.table.Lineage.merge(
        s, upd.unionByName(ins), root, "image_id", 8)
      assert(rewritten > 0 && rewritten < 8,
        s"merge must bucket-prune: rewrote $rewritten/8")
      // a second identical merge converges (idempotent upsert)
      graft.table.Lineage.merge(s, upd.unionByName(ins), root, "image_id", 8)
      graft.table.Lineage.read(s, root)
        .select("image_id", "k", "w", "h").orderBy("k", "image_id")
    }),

    // Copy-on-write row-level DELETE by key, bucket-pruned like merge
    "q_lineage_delete" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_del_q").toString
      val base = imgs(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(s, base, root, "image_id", 8)
      import s.implicits._
      val keys = Seq("img-5", "img-150", "img-absent").toDF("image_id")
      val rewritten = graft.table.Lineage.deleteKeys(
        s, keys, root, "image_id", 8)
      assert(rewritten > 0 && rewritten < 8,
        s"delete must bucket-prune: rewrote $rewritten/8")
      graft.table.Lineage.read(s, root)
        .select("image_id", "k", "w", "h").orderBy("k")
    }),

    // SCHEMA EVOLUTION (Iceberg ALTER TABLE): metadata-only add /
    // rename / drop, then a post-evolution MERGE so old-schema and
    // new-schema files genuinely coexist on disk — the read
    // reconciles both vintages (mergeSchema + evolution-log replay)
    "q_lineage_evolve" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_evo_q").toString
      val base = imgs(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(s, base, root, "image_id", 8)
      graft.table.Lineage.addColumn(root, "label", "string",
        Some("unlabeled"))
      graft.table.Lineage.renameColumn(root, "h", "height")
      graft.table.Lineage.dropColumn(root, "w")
      import s.implicits._
      // delta arrives in the EVOLVED schema; its buckets rewrite in
      // that physical schema while unaffected buckets keep the old one
      val delta = Seq(("img-new-9", 9000009L, 64L, "fresh"))
        .toDF("image_id", "k", "height", "label")
      val rewritten = graft.table.Lineage.merge(
        s, delta, root, "image_id", 8)
      assert(rewritten > 0 && rewritten < 8)
      graft.table.Lineage.read(s, root)
        .select("image_id", "k", "height", "label").orderBy("k")
    }),

    // INCREMENTAL (CDC) consumption of the streaming epoch-sink
    // layout: two committed epochs, cursor after epoch 0 → exactly
    // epoch 1's rows come back (Iceberg incremental append scan)
    "q_lineage_cdc" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_cdc_q").toString
      val base = imgs(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(
        s, base.where(col("k") % 2 === 0), s"$root/epoch=0", "image_id", 4)
      graft.table.Lineage.writeResumable(
        s, base.where(col("k") % 2 === 1), s"$root/epoch=1", "image_id", 4)
      assert(graft.streaming.CellStream.latestLineageEpoch(root) == 1L)
      // the full-history read still sees every row
      assert(graft.streaming.CellStream.readLineageEpochs(s, root).count()
        == base.count())
      graft.streaming.CellStream.readLineageEpochsSince(s, root, 0L)
        .select("image_id", "k", "w", "h").orderBy("k")
    }),

    // ---- vector-layer attribute ops (GeoVector.where analogs) ----
    // exact shoelace measures of the concave L-ring layer (signed
    // area2 + centroid numerators, integer mdeg)
    "q_geom_measures" -> ((s, dir) =>
      new graft.api.GippySpark(s)
        .measures(Synth.polygonsL(s, dir))
        .orderBy("fid")),

    "q_vector_where" -> ((s, dir) => {
      val g = new graft.api.GippySpark(s)
      g.where(g.openPolygons(dir), "pwm > 20000 AND fid % 2 = 0")
        .toDF().select(col("fid"), col("px0m"), col("py0m"),
          col("px1m"), col("py1m"))
        .orderBy("fid")
    }),

    // ---- warp resample (nearest, 2x upsample parity) ----
    // BILINEAR 2× upscale — dyadic-exact: at factor 2 every sample
    // lands on fx, fy ∈ {0.25, 0.75}, so 16·out is an exact integer
    // combination of four (replicate-clamped) source pixels and the
    // oracle re-derives Σ16·out with pure integer 1-D sums (validity
    // depends on x only: a dst pixel is NaN iff its LEFT sample column
    // is in the nodata stripe). Completes the kernel trio's oracles:
    // nearest (q_warp_nearest2x), cubic (q_pansharp), bilinear (here).
    "q_warp_bilinear2x" -> ((s, dir) => {
      val rs = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        val p = graft.core.Codec.decode(bytes, w, h,
          graft.core.Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val out = Warp.resample(p, w, h, 0, h, 1.0, 1.0,
          Warp.Grid(0, 0, w, h, 2 * w, 2 * h, 0.5, 0.5), interp = 1)
        var n = 0L; var s16 = 0L; var i = 0
        while (i < out.length) {
          if (!out(i).isNaN) { n += 1; s16 += (out(i) * 16.0).toLong }
          i += 1
        }
        (n, s16)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("r", rs(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("r._1").as("n_valid"),
          col("r._2").as("vsum16"))
        .orderBy("image_id")
    }),

    "q_warp_nearest2x" -> ((s, dir) => {
      val rs = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        val p = graft.core.Codec.decode(bytes, w, h,
          graft.core.Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val out = Warp.resample(p, w, h, 0, h, 1.0, 1.0,
          Warp.Grid(0, 0, w, h, 2 * w, 2 * h, 0.5, 0.5), interp = 0)
        var n = 0L; var sum = 0L; var i = 0
        while (i < out.length) {
          if (!out(i).isNaN) { n += 1; sum += out(i).toLong }
          i += 1
        }
        (n, sum)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("r", rs(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("r._1").as("n_valid"),
          col("r._2").as("vsum"))
        .orderBy("image_id")
    }),

    // OVERVIEW-AWARE downscale warp (GDAL's overview selection): a 3×
    // coarser output grid reads the level-2 pyramid plane — 1/4 of the
    // pixels — then nearest-resamples with the level-adjusted affine.
    // The two-step index map is pure integer arithmetic the oracle
    // replays digit-exactly.
    "q_warp_overview" -> ((s, dir) => {
      val rs = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        val p = graft.core.Codec.decode(bytes, w, h,
          graft.core.Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val dw = (w + 2) / 3; val dh = (h + 2) / 3
        val out = Warp.resampleWithOverviews(p, w, h, 0, h, 1.0, 1.0,
          Warp.Grid(0, 0, w, h, dw, dh, 3.0, 3.0), interp = 0)
        var n = 0L; var sum = 0L; var i = 0
        while (i < out.length) {
          if (!out(i).isNaN) { n += 1; sum += out(i).toLong }
          i += 1
        }
        (n, sum)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("r", rs(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("r._1").as("n_valid"),
          col("r._2").as("vsum"))
        .orderBy("image_id")
    }),

    // ---- band registry / masks / overviews ----
    "q_band_select" -> ((s, dir) =>
      Stats.bandStats(
          Bands.select(Synth.imagesWithBytes(s, dir, smallRaw),
            Seq("nir", "red")), 2)
        .orderBy("image_id", "band")),

    "q_mask_apply" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("ms", Bands.maskStatsAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(0), lit(500.0), lit(3)))
        .select(col("image_id"), col("ms._1").as("n_valid"),
          col("ms._2").as("vsum"))
        .orderBy("image_id")),

    "q_overview_l2" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("ov", Bands.overviewAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("ov._1").as("n_valid"),
          col("ov._2").as("vsum"))
        .orderBy("image_id")),

    // image feature-extract: pixel payload → 64-d block-mean embedding
    // (the vector the ANN/near-dup ops consume); emitted 2^-20-
    // quantized so the oracle is bit-exact
    "q_img_embedding" -> ((s, dir) => {
      val embU = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        Codec.blockMeanEmbedding(p, w, h)
          .map(m => math.floor(m * 1048576.0).toLong)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"),
          posexplode(embU(col("bytes"), col("w").cast("int"),
            col("h").cast("int"), col("fmt"))).as(Seq("bi", "mq")))
        .select(col("image_id"), col("bi").cast("long").as("bi"), col("mq"))
        .orderBy("image_id", "bi")
    }),

    "q_phash_pairs" -> ((s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"), col("phash"))
      val a = im.select(col("image_id").as("id_a"), col("phash").as("ph_a"))
      val b = im.select(col("image_id").as("id_b"), col("phash").as("ph_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("dist", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
        .where(col("dist") <= 16)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")
    }),

    // corpus-scale pHash near-dup: 4×16-bit banded Hamming join
    // (pigeonhole: any pair at distance ≤ 3 shares ≥ 1 band — full
    // recall for d≤3; verified distance reported). No cross join.
    "q_phash_banded" -> ((s, dir) =>
      graft.ops.Hamming.bandedPairs(
          Synth.imagesWithBytes(s, dir, smallRaw)
            .select(col("image_id"), col("phash")),
          "image_id", "phash", 16)
        .orderBy("id_a", "id_b")),

    // dHash (difference hash): 8×9 block-sum grid, bit = right cell
    // mean > left cell mean — the gradient-direction perceptual hash,
    // complementary to the phash column's global-mean bits and
    // EXACTLY invariant to integer brightness shifts (DhashSpec).
    // Division-free cross-multiplied compares → oracle bit-exact
    "q_dhash" -> ((s, dir) => {
      val dh = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        Codec.dHash(Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0), w, h)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"), dh(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")).as("dhash"))
        .orderBy("image_id")
    }),

    // corpus-scale dHash near-dup: the same 4×16-bit banded Hamming
    // join as q_phash_banded over the gradient hash — catches
    // exposure-shifted duplicates the raw-value hash misses
    "q_dhash_banded" -> ((s, dir) => {
      val dh = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        Codec.dHash(Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0), w, h)
      })
      graft.ops.Hamming.bandedPairs(
          Synth.imagesWithBytes(s, dir, smallRaw)
            .select(col("image_id"), dh(col("bytes"),
              col("w").cast("int"), col("h").cast("int"),
              col("fmt")).as("dhash")),
          "image_id", "dhash", 24)
        .orderBy("id_a", "id_b")
    }),

    // BT.601 luma/chroma screening constants (grayscale conversion +
    // chroma-flatness gate) — exact ×1000/×564000/×713000 integer
    // forms, one decode per image, no cross-image shuffle
    "q_ycbcr_stats" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.lumaChromaAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("t._1").as("n_px"),
          col("t._2").as("y_sum"), col("t._3").as("y_min"),
          col("t._4").as("y_max"), col("t._5").as("cb_sum"),
          col("t._6").as("cr_sum"))
        .orderBy("image_id")),

    // division-free HSV hue-sector histogram (dominant-color /
    // colorfulness screen): sector by channel-argmax + sign compares
    // only, chroma = max−min exact; ≤7 rows per image, one decode
    "q_hue_hist" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"), explode(graft.ops.Vision.hueHistAgg(
          col("bytes"), col("w").cast("int"), col("h").cast("int"),
          col("fmt"), lit(Synth.NumBands))).as("t"))
        .select(col("image_id"), col("t._1").as("sector"),
          col("t._2").as("n_px"), col("t._3").as("chroma_sum"))
        .orderBy("image_id", "sector")),

    // ordered Bayer 4×4 dithering (1-bit halftone quantization):
    // fixed threshold lattice 64·(2M+1), count + positional checksum
    // pin every lit coordinate — integer-exact, one decode
    "q_dither" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.ditherAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("t._1").as("n_valid"),
          col("t._2").as("n_on"), col("t._3").as("pos_sum"))
        .orderBy("image_id")),

    // near-dup IMAGE clusters: connected components over the banded
    // pHash Hamming pairs (d ≤ 16) — the image twin of
    // q_dedup_clusters; keep-one-per-cluster image dedup at corpus
    // scale (oracle: recursive-CTE reachability over the same edges)
    "q_phash_clusters" -> ((s, dir) => {
      val imgs = Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"), col("phash"))
      val pairs = graft.ops.Hamming
        .bandedPairs(imgs, "image_id", "phash", 16)
        .select("id_a", "id_b")
      graft.graph.ConnectedComponents
        .components(imgs.select("image_id"), pairs)
        .select(col("id").as("image_id"), col("comp").as("cluster_id"))
        .orderBy("image_id")
    }),

    // SimHash banded Hamming-neighbor join over documents — the text
    // analog of q_phash_banded (same Hamming.bandedPairs machinery);
    // value-exact: the md5-bit-vote simhash is re-derived in SQL
    // (SimhashCte), pigeonhole/subset properties additionally in LshSpec
    "q_simhash_banded" -> ((s, dir) =>
      graft.ops.Hamming.bandedPairs(
          graft.text.TextOps.simhash(docs(s, dir)),
          "doc_id", "simhash", 12)
        .orderBy("id_a", "id_b")),

    // full overview pyramid levels 2/4/8 (reference GeoImage.cpp:284-291)
    "q_overview_pyramid" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("ov", explode(Bands.overviewPyramidAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("ov._1").as("level"),
          col("ov._2").as("n_valid"), col("ov._3").as("vsum"))
        .orderBy("image_id", "level")),

    // per-hit intersection GEOMETRY (GeoVector.h:167-169): clip kernel
    // output proved value-exact — the clipped ring's shoelace area must
    // equal the closed-form rectangle overlap, vertex count 4
    "q_intersection_geom" -> ((s, dir) =>
      SpatialJoin.intersectionGeomMdeg(
          SpatialJoin.joinRects(imgs(s, dir), polys(s, dir), JoinRes))
        .select(col("image_id"), col("fid"), col("inter_nvert"),
          col("inter_area"))
        .orderBy("image_id", "fid")),

    // ---- multi-band algorithms ----
    "q_whiteness" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("wg", Algorithms.whitenessAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("wg._1").as("n_valid"),
          col("wg._2").as("fsum"))
        .orderBy("image_id")),

    "q_linear_transform" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("lt", explode(Algorithms.linearTransformAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("lt._1").as("ob"),
          col("lt._2").as("n_valid"), col("lt._3").as("fsum"))
        .orderBy("image_id", "ob")),

    "q_extract_classes" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("ec", explode(Algorithms.extractClassesAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("ec._1").as("cls"),
          col("ec._2").as("n_px"), col("ec._3").as("red_sum"))
        .orderBy("image_id", "cls")),

    "q_random_pixels" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("rp", Algorithms.randomPixelsAgg(col("k"), col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(16)))
        .select(col("image_id"), col("rp._1").as("n_valid"),
          col("rp._2").as("vsum"))
        .orderBy("image_id")),

    // create_from: template geometry kept, new fmt/bands, blank payload
    "q_create_from" -> ((s, dir) => {
      val df = Bands.createFrom(Synth.imagesWithBytes(s, dir, smallRaw),
        "raw-u8", 2, Seq("m1", "m2"))
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 2), fmt)(0)
        p.count(!_.isNaN).toLong
      })
      df.select(col("image_id"), col("fmt"), col("w"), col("h"),
          agg(col("bytes"), col("w").cast("int"), col("h").cast("int"),
            col("fmt")).as("n_valid"))
        .orderBy("image_id")
    }),

    // multi-file open: two payload tables stacked into one 12-band cube
    // (join on image_id, prefixed names); band 7 = 2nd source's green
    "q_stack_bands" -> ((s, dir) => {
      val a = Synth.imagesWithBytes(s, dir, smallRaw)
      val b = Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"), col("bytes"), col("fmt"))
      val df = Bands.stack(a, b, "lm", "hm")
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 12), fmt)(7)
        var n = 0L; var vs = 0L; var i = 0
        while (i < p.length) {
          if (!p(i).isNaN) { n += 1; vs += p(i).toLong }
          i += 1
        }
        (n, vs)
      })
      df.withColumn("a", agg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), size(col("bands")).cast("long").as("n_bands"),
          col("a._1").as("n_valid"), col("a._2").as("vsum"))
        .orderBy("image_id")
    }),

    // info() debug summary — one line per image from metadata columns
    "q_info" -> ((s, dir) =>
      Bands.info(imgs(s, dir)).orderBy("image_id")),

    // subdataset expansion (GeoImage.cpp:148-186): three single-band
    // subdatasets (blue/red/nir) per container re-assemble into one
    // 3-band frame; band 2 of the result must equal source band 3
    "q_subdatasets" -> ((s, dir) => {
      val mk = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, b: Int) => {
        import graft.core.Codec
        val cube = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)
        Codec.encode(Array(cube(b)), w, h, fmt)
      })
      val subs = Synth.imagesWithBytes(s, dir, smallRaw)
        .select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"),
          explode(array(
            struct(lit(0L).as("sub_idx"), lit("sub_blue").as("name"),
              lit(0).as("b")),
            struct(lit(1L).as("sub_idx"), lit("sub_red").as("name"),
              lit(2).as("b")),
            struct(lit(2L).as("sub_idx"), lit("sub_nir").as("name"),
              lit(3).as("b")))).as("sd"))
        .select(col("image_id"), col("sd.sub_idx").as("sub_idx"),
          col("sd.name").as("name"),
          mk(col("bytes"), col("w").cast("int"), col("h").cast("int"),
            col("fmt"), col("sd.b")).as("bytes"),
          col("w"), col("h"), col("fmt"))
      val ex = Bands.expandSubdatasets(subs)
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, 3, fmt)(2)
        var n = 0L; var vs = 0L; var i = 0
        while (i < p.length) {
          if (!p(i).isNaN) { n += 1; vs += p(i).toLong }
          i += 1
        }
        (n, vs)
      })
      ex.withColumn("a", agg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), size(col("bands")).cast("long").as("n_bands"),
          col("a._1").as("n_valid"), col("a._2").as("vsum"))
        .orderBy("image_id")
    }),

    // colortable + set_color: ramp/interp entries in band metadata;
    // clear removes exactly the ramp (interp survives)
    "q_colortable" -> ((s, dir) => {
      val withCt = Bands.addColortable(
        Bands.setColor(imgs(s, dir), "red", "ColorInterp_Red"),
        "red", Seq(0 -> (0, 0, 0), 128 -> (128, 64, 32), 255 -> (255, 255, 255)))
      val cleared = Bands.clearColortable(withCt, "red")
        .withColumnRenamed("bandmeta", "bandmeta_cleared")
      withCt.select(col("image_id"), col("bandmeta"))
        .join(cleared.select(col("image_id"), col("bandmeta_cleared")),
          Seq("image_id"))
        .select(col("image_id"),
          explode(col("bandmeta")).as(Seq("key", "value")),
          size(map_keys(col("bandmeta_cleared"))).cast("long").as("n_after_clear"))
        .orderBy("image_id", "key")
    }),

    // skeletonize: Zhang-Suen thinning of the NDVI>0 mask — skeleton
    // pixel count per image (iterative kernel; rows-only)
    "q_skeletonize" -> ((s, dir) => {
      val sk = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val mask = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) Double.NaN
          else if (n - r > 0) 1.0 else 0.0
        }
        val s = Pixels.skeletonize(mask, w, h)
        (mask.count(_ == 1.0).toLong, s.count(_ == 1.0).toLong)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("sk", sk(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("sk._1").as("n_mask"),
          col("sk._2").as("n_skel"))
        .orderBy("image_id")
    }),

    // Hamilton–Jacobi FLUX skeleton (Pixels.skeletonizeFlux): the flux
    // field has no SQL form, so this gate is an INVARIANT oracle — per
    // image the skeleton must be a subset of the mask (subset_viol 0),
    // preserve the 8-connected component count (comp_skel == comp_mask;
    // the n>r half-plane mask has sign(n_mask) components, which the
    // oracle states in closed form), and n_mask is replayed per-pixel.
    // All exact integers; a violated invariant is a value mismatch,
    // not a rows-only pass.
    "q_skeleton_flux" -> ((s, dir) => {
      val sk = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val mask = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) Double.NaN
          else if (n - r > 0) 1.0 else 0.0
        }
        val sf = Pixels.skeletonizeFlux(mask, w, h)
        def comps(p: Array[Double]): Long = {
          val fg = p.map(_ == 1.0)
          val lab = Pixels.labelComponents(fg, w, h)
          val roots = scala.collection.mutable.HashSet[Int]()
          var i = 0
          while (i < p.length) { if (fg(i)) roots += lab(i); i += 1 }
          roots.size.toLong
        }
        val subsetViol = (0 until w * h)
          .count(i => sf(i) == 1.0 && mask(i) != 1.0).toLong
        (mask.count(_ == 1.0).toLong, comps(mask), comps(sf), subsetViol)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("sk", sk(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("sk._1").as("n_mask"),
          col("sk._2").as("comp_mask"), col("sk._3").as("comp_skel"),
          col("sk._4").as("subset_viol"))
        .orderBy("image_id")
    }),

    // ---- terrain & time-series pack over the quadratic-mod DEM band
    // (Synth.demImages — the linear ramps have constant gradient, so
    // terrain ops on them are degenerate). All integer / single-IEEE
    // math; oracles replay the surfaces with generate_series. ----

    // Horn-kernel slope (Horn 1981, the gdaldem convention): interior
    // pixels, dzdx/dzdy as integer stencils, slope = sqrt of exact
    // power-of-two-scaled squares
    "q_dem_slope" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("sl", graft.ops.Terrain.slopeAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("sl._1").as("n_int"),
          col("sl._2").as("adx_sum"), col("sl._3").as("ady_sum"),
          col("sl._4").as("slope_fsum"))
        .orderBy("image_id")),

    // hillshade (Horn normals, gdaldem-default sun az 315° alt 45°):
    // shade = max(0, n·s); the 315/45 sun vector is exact halves plus
    // one correctly-rounded sqrt, so the whole pixel formula is a
    // fixed sequence of identical IEEE roundings in both engines
    "q_hillshade" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("hs", graft.ops.Terrain.hillshadeAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("hs._1").as("n_int"),
          col("hs._2").as("shade_fsum"), col("hs._3").as("n_shadow"))
        .orderBy("image_id")),

    // D8 flow direction histogram: steepest-positive-drop neighbor
    // (ties → lowest code, pits → −1), stated as an integer argmin
    // the oracle replays with the same key encoding
    "q_flow_d8" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("dc", explode(graft.ops.Terrain.flowDirCounts(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("dc._1").cast("long").as("dir"),
          col("dc._2").as("cnt"))
        .orderBy("image_id", "dir")),

    // TRI (Σ|z_c − z_n| over 8 neighbors, ×8 unscaled) + roughness
    // (3×3 max − min) per interior pixel — the remaining gdaldem
    // products, exact integers
    "q_tri_rough" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("tr", graft.ops.Terrain.triRoughAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("tr._1").as("n_int"),
          col("tr._2").as("tri_sum"), col("tr._3").as("tri_max"),
          col("tr._4").as("rough_sum"), col("tr._5").as("rough_max"))
        .orderBy("image_id")),

    // Strahler stream order over the D8 flow forest: one topological
    // pass per image (corpus-parallel), per-order cell histogram;
    // oracle = monotone fixpoint scatter-CTE, 48-round bound
    "q_strahler" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("sc", explode(graft.ops.Terrain.strahlerCounts(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("sc._1").cast("long").as("ord"),
          col("sc._2").as("n_cells"))
        .orderBy("image_id", "ord")),

    // two-level Laplacian pyramid (Burt-Adelson, floor-mean reduce):
    // per-image subband energy split, exact integers
    "q_lap_pyramid" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("lp", graft.ops.Vision.lapPyramidAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("lp._1").as("n_l0"),
          col("lp._2").as("l0_abs_sum"), col("lp._3").as("l0_max"),
          col("lp._4").as("l1_abs_sum"), col("lp._5").as("g2_sum"))
        .orderBy("image_id")),

    // D8 flow accumulation (upstream cell count): pointer-doubling
    // ancestor counting over the flow forest — ceil(log2 path)
    // shuffle rounds, all images advance in the same job. The
    // oracle walks every cell's flow path with a recursive CTE and
    // counts visits.
    "q_flow_accum" -> ((s, dir) =>
      graft.ops.Terrain.flowAccum(Synth.demImages(s, dir, smallRaw))
        .groupBy("image_id")
        .agg(count(lit(1)).as("n_px"), sum("acc").as("acc_sum"),
          max("acc").as("acc_max"),
          sum(col("acc") * col("acc")).as("acc_sq_sum"))
        .orderBy("image_id")),

    // accumulated-cost surface (decode-once per-image Dijkstra)
    // from z%19==0 seed cells under the (2,3)-chamfer
    // metric over cost 1+z%2: per image the source/reached census
    // plus exact-integer distance checksums
    "q_cost_distance" -> ((s, dir) =>
      graft.ops.Terrain.costDistance(Synth.demImages(s, dir, smallRaw))
        .groupBy("image_id")
        .agg(sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_src"),
          count(lit(1)).as("n_reached"),
          sum(col("dist")).as("dist_sum"),
          max(col("dist")).as("dist_max"),
          sum(col("dist") * col("dist")).as("dist_sq_sum"))
        .orderBy("image_id")),

    // contour crossings (marching-squares primitive): per iso level,
    // grid edges with exactly one endpoint below the level + integer
    // positional checksum
    "q_contours" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("c", explode(graft.ops.Terrain.contourAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          array(lit(500L), lit(1000L), lit(1500L)))))
        .select(col("image_id"), col("c._1").as("level"),
          col("c._2").as("n_h"), col("c._3").as("n_v"),
          col("c._4").as("chk"))
        .orderBy("image_id", "level")),

    // Harris corner response with k = 1/25 stated in pure integers
    // (R·25 = 25·det − tr²) over central-difference gradients — corner
    // counts + clamped checksum
    "q_harris" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("hr", graft.ops.Terrain.harrisAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("hr._1").as("n_eval"),
          col("hr._2").as("n_corner"), col("hr._3").as("chk"))
        .orderBy("image_id")),

    // LBP texture descriptor: 8-neighbor ≥-center bit pattern (D8 bit
    // order), per-image 256-bin histogram — pure integer
    "q_lbp" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("lb", explode(graft.ops.Terrain.lbpHistogram(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("lb._1").as("lbp"),
          col("lb._2").as("cnt"))
        .orderBy("image_id", "lbp")),

    // 3×3 median (rank) filter: per-image sum/changed-count/checksum
    // of the 5th-smallest of each interior 3×3 window — pure integer
    "q_median_filter" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("m", graft.ops.Vision.medianAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("m._1").as("n_int"),
          col("m._2").as("med_sum"), col("m._3").as("n_changed"),
          col("m._4").as("chk"))
        .orderBy("image_id")),

    // Lee sigma speckle filter: floor-mean of the 3×3 neighbors
    // within ±120 of the center (center always included) — edges
    // survive, speckle smooths; pure integer, one decode
    "q_lee_filter" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.leeSigmaAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(120)))
        .select(col("image_id"), col("t._1").as("n_int"),
          col("t._2").as("out_sum"), col("t._3").as("n_smoothed"),
          col("t._4").as("chk"))
        .orderBy("image_id")),

    // SSIM vs the raster's own 3×3 box mean over full 8×8 interior
    // blocks — one exact scaled integer per block (n²-scaled form,
    // HUGEINT/BigInt for the wide step), per-image rollup
    "q_ssim" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.ssimAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_blocks"),
          col("t._2").as("ssim_sum"), col("t._3").as("ssim_min"),
          col("t._4").as("chk"))
        // rasters too small for one full interior 8x8 block emit no
        // row, matching the oracle's GROUP-BY-over-blocks row
        // semantics (ADVICE r5; no-op on the current fixture)
        .where(col("n_blocks") > 0)
        .orderBy("image_id")),

    // structure-tensor coherence per 8×8 block: the edge-vs-texture
    // anisotropy ((a−b)²+4c²)/(a+b)² as one exact scaled integer
    "q_coherence" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.coherenceAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_blocks"),
          col("t._2").as("coh_sum"), col("t._3").as("coh_max"),
          col("t._4").as("chk"))
        .where(col("n_blocks") > 0) // see q_ssim note (ADVICE r5)
        .orderBy("image_id")),

    // HOG-style orientation census: central-difference gradients,
    // division-free octant binning, L1 magnitude — ≤8 rows per image
    "q_hog" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .select(col("image_id"), explode(graft.ops.Vision.hogAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
          .as("t"))
        .select(col("image_id"), col("t._1").as("octant"),
          col("t._2").as("n_px"), col("t._3").as("mag_sum"))
        .orderBy("image_id", "octant")),

    // morphological gradient (Beucher): dilate3×3 − erode3×3 =
    // window max − min — the morphology edge-strength operator
    "q_morph_gradient" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("g", graft.ops.Vision.morphGradAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("g._1").as("n_int"),
          col("g._2").as("grad_sum"), col("g._3").as("grad_max"),
          col("g._4").as("chk"))
        .orderBy("image_id")),

    // white top-hat: z − opening(z) (dilate of the erode plane) on the
    // 5×5 support — bright-small-feature residue, ≥ 0 by construction
    "q_tophat" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.topHatAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_eval"),
          col("t._2").as("th_sum"), col("t._3").as("n_pos"),
          col("t._4").as("chk"))
        .orderBy("image_id")),

    // TPI (8·z − Σ neighbors, the divide-free integer form) + TRI
    // ruggedness (Σ |z − neighbor|) over the 8-neighborhood
    "q_tpi" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("t", graft.ops.Vision.tpiAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_int"),
          col("t._2").as("n_ridge"), col("t._3").as("n_valley"),
          col("t._4").as("tpi_sum"), col("t._5").as("tri_sum"))
        .orderBy("image_id")),

    // NCC template match vs the broadcast 8×8 k=911 DEM patch:
    // integer num/den per window, score = floor(num/√den·10⁶) (three
    // identically-ordered IEEE roundings), argmax with (y,x) ties
    "q_template_match" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("m", graft.ops.Vision.templateMatchAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("m._1").as("best_x"),
          col("m._2").as("best_y"), col("m._3").as("score"),
          col("m._4").as("n_cand"))
        .orderBy("image_id")),

    // line-of-sight viewshed from cell (0,0), antenna height 2:
    // integer-DDA ray sampling + cross-multiplied slope test — no
    // division, value-exact
    "q_viewshed" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("v", graft.ops.Terrain.viewshedAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("v._1").as("n_vis"),
          col("v._2").as("n_blocked"), col("v._3").as("chk"))
        .orderBy("image_id")),

    // Hough line accumulator at the four exact angles over
    // morph-gradient edges (≥ 300): winning ρ-bin + votes per θ
    "q_hough" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("hh", explode(graft.ops.Vision.houghAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("hh._1").as("theta"),
          col("hh._2").as("best_bin"), col("hh._3").as("votes"))
        .orderBy("image_id", "theta")),

    // GLCM texture at offset (1,0), 8 levels (z div 256): n_pairs,
    // contrast, dissimilarity, energy — all exact integers
    "q_glcm" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("g", graft.ops.Vision.glcmAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("g._1").as("n_pairs"),
          col("g._2").as("contrast"), col("g._3").as("dissim"),
          col("g._4").as("energy"))
        .orderBy("image_id")),

    // divide-free central moments: mu20s = m00·Σzx² − m10², mu02s,
    // mu11s, + principal-axis quadrant code (signs, no atan2)
    "q_moments" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("m", graft.ops.Vision.momentsAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("m._1").as("mu20s"),
          col("m._2").as("mu02s"), col("m._3").as("mu11s"),
          col("m._4").as("orient_code"))
        .orderBy("image_id")),

    // Otsu threshold over 32 levels (z div 64), argmax of num²/den
    // decided by exact cross-multiplication, ties → lowest t
    "q_otsu" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("o", graft.ops.Vision.otsuAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("o._1").as("t_best"),
          col("o._2").as("w0"), col("o._3").as("num"),
          col("o._4").as("den"))
        .orderBy("image_id")),

    // census transform popcount histogram (8-bit neighbor>center
    // codes over interior pixels)
    "q_census" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("c", explode(graft.ops.Vision.censusAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("c._1").as("popcount"),
          col("c._2").as("cnt"))
        .orderBy("image_id", "popcount")),

    // HOG-lite: Horn-gradient octant histogram (8 × 45° sectors via
    // sign/comparison ladder + flat), counts and integer gx²+gy²
    "q_grad_octants" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("g", explode(graft.ops.Vision.gradOctAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("g._1").as("octant"),
          col("g._2").as("cnt"), col("g._3").as("mag2_sum"))
        .orderBy("image_id", "octant")),

    // 7×7 box filter via a summed-area table: O(1) per pixel vs the
    // oracle's naive O(k²) window scan — identical integers
    "q_integral_box" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("ib", graft.ops.Vision.integralBoxAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(3)))
        .select(col("image_id"), col("ib._1").as("n_eval"),
          col("ib._2").as("box_sum"), col("ib._3").as("box_max"),
          col("ib._4").as("chk"))
        .where(col("n_eval") > 0)
        .orderBy("image_id")),

    // unsharp mask (USM sharpen, k=1, r=2): q-scaled output
    // U = 2·25·v − box25 exact; SAT gives O(1)/pixel at any radius
    "q_unsharp" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("um", graft.ops.Vision.unsharpAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(2)))
        .select(col("image_id"), col("um._1").as("n_eval"),
          col("um._2").as("u_sum"), col("um._3").as("n_up"),
          col("um._4").as("chk"))
        .where(col("n_eval") > 0)
        .orderBy("image_id")),

    // Canny-lite edge chain: integer central-diff gradient →
    // octant-quantized NMS → double threshold → hysteresis BFS
    "q_canny" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("c", graft.ops.Vision.cannyAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(250000L), lit(1000000L)))
        .select(col("image_id"), col("c._1").as("n_nms"),
          col("c._2").as("n_strong"), col("c._3").as("n_edge"),
          col("c._4").as("chk"))
        .where(col("n_nms") > 0)
        .orderBy("image_id")),

    // exhaustive-search SAD block motion between epochs 0 and 3,
    // with a per-image planted shift (k%5−2, k%3−1) the search must
    // recover: per-image winning-displacement histogram + SAD sums
    "q_block_motion" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 4, smallRaw)
        .where(col("t").isin(0, 3))
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", explode(graft.ops.Vision.blockMotionAgg(
          col("w").cast("int"), col("h").cast("int"),
          (col("k") % 5 - 2).cast("int"), (col("k") % 3 - 1).cast("int"),
          col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("dx"),
          col("r._2").cast("long").as("dy"), col("r._3").as("n_blocks"),
          col("r._4").as("sad_sum"))
        .orderBy("image_id", "dx", "dy")),

    // vertical min-energy seam DP (seam carving): per-image seam
    // cost, seam-exit column, bottom-DP-row checksum
    "q_seam" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", graft.ops.Vision.seamAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_cols"),
          col("r._2").as("seam_cost"), col("r._3").as("seam_x"),
          col("r._4").as("dp_sum"))
        .orderBy("image_id")),

    // per-scanline RLE of the DEM z%7<3 mask: run count / max run /
    // Σ len² / placement checksum
    "q_rle" -> ((s, dir) => {
      val f = udf((bytes: Array[Byte], w: Int, h: Int) => {
        val z = graft.core.Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
        val m = Array.tabulate(w * h)(i => z(i).toLong % 7 < 3)
        graft.ops.Vision.rleRuns(m, w, h)
      })
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", f(col("dem_bytes"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_runs"),
          col("r._2").as("max_run"), col("r._3").as("len_sq_sum"),
          col("r._4").as("chk"))
        .orderBy("image_id")
    }),

    // hole filling by border flood (background reconstruction):
    // background 4-connected to the frame stays open, the rest are
    // holes — per-image hole/open counts + hole checksum
    "q_fill_holes" -> ((s, dir) => {
      val f = udf((bytes: Array[Byte], w: Int, h: Int) => {
        val z = graft.core.Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
        val m = Array.tabulate(w * h)(i => z(i).toLong % 7 < 3)
        graft.ops.Vision.fillHoles(m, w, h)
      })
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", f(col("dem_bytes"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_hole_px"),
          col("r._2").as("n_bg_open"), col("r._3").as("chk"))
        .orderBy("image_id")
    }),

    // region-quadtree leaf census of the z%7<3 mask padded to 64×64
    "q_quadtree" -> ((s, dir) => {
      val f = udf((bytes: Array[Byte], w: Int, h: Int) => {
        val z = graft.core.Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
        val m = Array.tabulate(w * h)(i => z(i).toLong % 7 < 3)
        graft.ops.Vision.quadtreeLeaves(m, w, h, 64)
      })
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", f(col("dem_bytes"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_leaves"),
          col("r._2").as("n_fg_leaves"), col("r._3").as("chk"))
        .orderBy("image_id")
    }),

    // triangle census of the within-distance proximity graph over
    // ALL image footprints (cell-gridded edge join + degree-ordered
    // orientation — never all-pairs; the oracle IS all-pairs)
    "q_triangles" -> ((s, dir) =>
      graft.ops.SpatialJoin.triangleCensus(Synth.images(s, dir), 3000L)),

    // exact-integer PageRank (3 rounds, scale 10^6, damping as
    // 15/85-div-100 integer ops) over the SAME proximity graph —
    // per-round: one edge⋈rank equi-join + one map-side-combined
    // destination sum; the oracle unrolls the rounds as CTEs
    "q_pagerank" -> ((s, dir) =>
      graft.graph.PageRank.pagerankInt(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          3)
        .orderBy("v")),

    // spatial autocorrelation over the proximity graph: Moran's I
    // numerator/denominator in exact n-scaled-deviation integers +
    // Cliff-Ord BB/WW/BW join counts on a binary attribute
    "q_moran" -> ((s, dir) =>
      graft.ops.SpatialJoin.moranStats(Synth.images(s, dir), 3000L)),

    // Getis-Ord Gi* hotspot pieces over an eps-pitch centroid grid:
    // per non-empty bin the image count x and the 3x3 binary-
    // contiguity neighborhood sum (self included) — the exact-
    // integer inputs of the Gi* z-score
    "q_hotspot" -> ((s, dir) =>
      graft.ops.SpatialJoin.hotspotBins(Synth.images(s, dir), 9000L)
        .orderBy("gi", "gj")),

    // 2-hop reach census over the proximity graph: per node the
    // direct degree n1 and the count of DISTINCT nodes reachable
    // in <=2 hops (self excluded) — one middle-vertex self-join
    "q_two_hop" -> ((s, dir) =>
      graft.ops.SpatialJoin.twoHopCensus(Synth.images(s, dir), 3000L)
        .orderBy("v")),

    // k-core (k=3) of the proximity graph: synchronous peel to the
    // fixpoint (monotone, one count-action per round); survivors with
    // their within-core degree. The oracle unrolls the same peel as
    // chained survivor CTEs — KCoreRounds in both places.
    "q_kcore" -> ((s, dir) =>
      graft.graph.KCore.kcore(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          3, KCoreRounds)
        .orderBy("v")),

    // community detection over the proximity graph: synchronous
    // label propagation, LabelPropRounds fixed rounds, most-frequent
    // neighbor label with ties -> smallest (total order, so the
    // result is partition-independent); per-round two-level aggregate
    // partial-aggregates map-side. The oracle unrolls the rounds.
    "q_label_prop" -> ((s, dir) =>
      graft.graph.LabelProp.labelProp(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          LabelPropRounds)
        .orderBy("v")),

    // link prediction over the proximity graph: top-40 non-adjacent
    // pairs by exact scaled Jaccard of neighborhoods (wedge join at
    // the middle vertex, anti-join vs the edge list — never all-pairs)
    "q_link_pred" -> ((s, dir) =>
      graft.graph.LabelProp.linkPredict(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L),
          40)),

    // degree distribution of the proximity graph (the sanity summary
    // every graph pipeline starts with): two map-side-combined
    // aggregates, output ≤ max-degree rows
    "q_degree_dist" -> ((s, dir) => {
      val e = graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir),
        3000L)
      e.select(col("ka").as("v")).unionAll(e.select(col("kb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    }),

    // corpus language-mixture Gini impurity (the diversity number a
    // data-mixing recipe targets): 10⁶·(n²−Σc²) div n², classes-
    // bounded aggregate, one output row
    "q_gini_mix" -> ((s, dir) => {
      val cl = docs(s, dir).groupBy("lang").agg(count(lit(1)).as("c"))
      cl.agg(sum(col("c")).as("n"), count(lit(1)).as("n_langs"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("n").as("n_docs"), col("n_langs"),
          expr("((n * n - ss) * 1000000) div (n * n)").as("gini_scaled"))
    }),

    // per-node clustering coefficient: triangles enumerated once by
    // degree-ordered orientation (hub-safe Σ out-deg² work), corners
    // credited via explode, exact scaled 2t div deg(deg−1)
    "q_clustering_coef" -> ((s, dir) =>
      graft.graph.LabelProp.clusteringCoef(
          graft.ops.SpatialJoin.proximityEdges(Synth.images(s, dir), 3000L))
        .orderBy("v")),

    // union (coverage) area of pad-3000 footprints per 30000-pitch
    // coarse cell: grid-partitioned slab decomposition, exact mdeg^2
    "q_union_area" -> ((s, dir) =>
      graft.ops.SpatialJoin.coverageArea(Synth.images(s, dir), 3000L, 30000L)
        .orderBy("ci", "cj")),

    // hex-lattice binning of footprint centroids (doubled-coordinate
    // integer lattice, nearest-center by exact squared distance)
    "q_hex_rollup" -> ((s, dir) =>
      graft.ops.SpatialJoin.hexBin(Synth.images(s, dir), 9000L, 14000L)
        .orderBy("hi", "hj")),

    // grid-partitioned DBSCAN over footprint centroids (eps-pitch
    // grid, 3x3-cell probe equi-join for neighbor pairs, CC over
    // core-core edges, deterministic min-cluster border attachment;
    // the oracle replays it all-pairs + transitive-closure reach)
    "q_dbscan" -> ((s, dir) =>
      graft.ops.SpatialJoin.dbscanGrid(
          Synth.images(s, dir).where(col("k") <= 2000), 6000L, 4)
        .orderBy("k")),

    // local mean/variance via twin summed-area tables (adaptive-
    // threshold building block, divide-free): 5×5 windows
    "q_local_stats" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", graft.ops.Vision.localStatsAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(2)))
        .select(col("image_id"), col("r._1").as("n_eval"),
          col("r._2").as("n_above"), col("r._3").as("var_sum"),
          col("r._4").as("var_max"), col("r._5").as("chk"))
        .orderBy("image_id")),

    // FAST-16 segment-test corners (≥9 contiguous bright/dark on
    // the radius-3 circle, t = 100)
    "q_fast" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", graft.ops.Vision.fastAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(100L)))
        .select(col("image_id"), col("r._1").as("n_eval"),
          col("r._2").as("n_corners"), col("r._3").as("chk"))
        .orderBy("image_id")),

    // bilinear Bayer demosaic (RGGB, ×4 integer scale): per-image
    // reconstructed-plane sums + placement checksum
    "q_demosaic" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("r", graft.ops.Vision.demosaicAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_int"),
          col("r._2").as("r4_sum"), col("r._3").as("g4_sum"),
          col("r._4").as("b4_sum"), col("r._5").as("chk"))
        .orderBy("image_id")),

    // zonal temporal trend: the zonal covering-cell join composed
    // with the per-pixel OLS trend kernel — rising/falling cells and
    // the integer numerator sum per polygon zone
    "q_zonal_trend" -> ((s, dir) =>
      graft.ops.Terrain.zonalTrend(
        Synth.demEpochImages(s, dir, 4, smallRaw),
        smallRaw(Synth.images(s, dir)),
        Synth.polygons(s, dir))
        .orderBy("fid")),

    // Douglas-Peucker track simplification: per-user event tracks
    // with md5-derived integer coordinates, ε² = 1048576 (ε = 1024)
    "q_track_simplify" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 40)
      val hm = md5(col("event_id").cast("string"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      import graft.sketch.Cms.hexVal
      val pts = ev.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("idx", row_number().over(win).cast("long") - 1)
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
      pts.groupBy("user_id")
        .agg(collect_list(struct(col("idx"), col("px"), col("py")))
          .as("pts"))
        .withColumn("r", graft.ops.Tracks.dpAgg(col("pts"),
          lit(1048576L)))
        .select(col("user_id"), col("r._1").as("n_pts"),
          col("r._2").as("n_kept"), col("r._3").as("idx_sum"),
          col("r._4").as("chk"))
        .where(col("n_pts") >= 2)
        .orderBy("user_id")
    }),

    // convex hull per user point set (monotone chain, strict
    // vertices): hull size, doubled shoelace area, vertex checksum
    "q_convex_hull" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 40)
      val hm = md5(col("event_id").cast("string"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      import graft.sketch.Cms.hexVal
      val pts = ev.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("idx", row_number().over(win).cast("long") - 1)
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
      pts.groupBy("user_id")
        .agg(collect_list(struct(col("idx"), col("px"), col("py")))
          .as("pts"))
        .withColumn("r", graft.ops.Tracks.hullAgg(col("pts")))
        .select(col("user_id"), col("r._1").as("n_distinct"),
          col("r._2").as("n_hull"), col("r._3").as("area2"),
          col("r._4").as("chk"))
        .where(col("n_distinct") >= 3)
        .orderBy("user_id")
    }),

    // stay-point detection (anchor walk, r² = 1048576, ≥3 points):
    // per-user stay count, anchor/span sums, anchor checksum
    "q_staypoints" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 40)
      val hm = md5(col("event_id").cast("string"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      import graft.sketch.Cms.hexVal
      val pts = ev.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("idx", row_number().over(win).cast("long") - 1)
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
      pts.groupBy("user_id")
        .agg(collect_list(struct(col("idx"), col("px"), col("py")))
          .as("pts"))
        .withColumn("r", graft.ops.Tracks.stayAgg(col("pts"),
          lit(1048576L), lit(3)))
        .select(col("user_id"), col("r._1").as("n_stays"),
          col("r._2").as("a_sum"), col("r._3").as("span_sum"),
          col("r._4").as("chk"))
        .where(col("n_stays") > 0)
        .orderBy("user_id")
    }),

    // DTW distance of each user's first-24-point track to a fixed
    // 6-point reference path (per-key O(n·m) DP kernel, reference
    // broadcast as a literal; min-plus scatter-CTE oracle)
    "q_dtw" -> ((s, dir) => {
      val rx = DtwRefX.map(lit(_)); val ry = DtwRefY.map(lit(_))
      dtwTrackPts(s, dir).groupBy("user_id")
        .agg(collect_list(struct(col("idx"), col("px"), col("py")))
          .as("pts"))
        .withColumn("r", graft.ops.Tracks.dtwAgg(col("pts"),
          array(rx: _*), array(ry: _*)))
        .select(col("user_id"), col("r._1").as("n_pts"),
          col("r._2").as("dtw"))
        .orderBy("user_id")
    }),

    // discrete Fréchet distance of the SAME tracks to the SAME
    // reference path — the min-max DP twin of q_dtw (smallest leash
    // over monotone walks; GREATEST replaces + in the scatter-CTE
    // relax arm, so the oracle carries no overflow risk at INF)
    "q_frechet" -> ((s, dir) => {
      val rx = DtwRefX.map(lit(_)); val ry = DtwRefY.map(lit(_))
      dtwTrackPts(s, dir).groupBy("user_id")
        .agg(collect_list(struct(col("idx"), col("px"), col("py")))
          .as("pts"))
        .withColumn("r", graft.ops.Tracks.frechetAgg(col("pts"),
          array(rx: _*), array(ry: _*)))
        .select(col("user_id"), col("r._1").as("n_pts"),
          col("r._2").as("frechet"))
        .orderBy("user_id")
    }),

    // symmetric Hausdorff distance (squared) between each track's
    // point SET and the reference path — order-free max-of-min
    // aggregation, no DP kernel: cross join against the 6-row
    // broadcast reference, min per point, max per track, both ways
    "q_hausdorff" -> ((s, dir) =>
      graft.ops.Tracks.hausdorff(
          dtwTrackPts(s, dir).select("user_id", "idx", "px", "py"),
          DtwRefX, DtwRefY)
        .orderBy("user_id")),

    // origin-destination trip matrix: per (user, day) the first→last
    // md5-coordinate point (argmin/argmax by in-day index as struct
    // MIN/MAX), both snapped to a 512-pitch cell grid, counted per
    // (origin cell, destination cell)
    "q_od_flows" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 200)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      val base = ev.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("day",
          floor(unix_timestamp(col("ts")) / 86400).cast("long"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
      val pts = base
        .withColumn("idx", row_number().over(win).cast("long") - 1)
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
      graft.ops.Tracks.odFlows(pts, 512L)
        .orderBy("o_cx", "o_cy", "d_cx", "d_cy")
    }),

    // per-user mobility statistics: divide-free radius of gyration
    // (gyr_num = n²·r_g² = n·Σ|p|² − |Σp|²) plus the squared
    // jump-length sum/max in track order
    "q_mobility" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      import graft.sketch.Cms.hexVal
      val pts = ev.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("idx", row_number().over(win).cast("long") - 1)
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
      graft.ops.Tracks.mobilityStats(pts).orderBy("user_id")
    }),

    // Knox space-time interaction: 2x2 contingency pieces (pairs
    // close in space s=64, in time tau=3600, and in both) via
    // cell- and bucket-banded pair joins — no all-pairs
    "q_knox" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      val pts = ev
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
        .select(col("event_id").as("id"), col("px"), col("py"),
          unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.knoxCounts(pts, 64L, 3600L)
    }),

    // Ripley's K pair counts at radii {32,64,128,256}: one banded
    // pair join at the coarsest pitch, all radii counted from the
    // same candidate set
    "q_ripley" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      val pts = ev
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
        .select(col("event_id").as("id"), col("px"), col("py"))
      graft.ops.SpatialJoin.ripleyCounts(pts,
        Seq(32L, 64L, 128L, 256L)).orderBy("r")
    }),

    // step-bearing octant histogram per user: trig-free integer
    // sector classification of every nonzero step, with Σd² checksum
    "q_bearings" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      import graft.sketch.Cms.hexVal
      val pts = ev.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("idx", row_number().over(win).cast("long") - 1)
        .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
          hexVal(hm, 3)).cast("long"))
        .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
          hexVal(hm, 6)).cast("long"))
      graft.ops.Tracks.bearingOctants(pts).orderBy("user_id", "oct")
    }),

    // cross-user segment crossings (encounter detection): one short
    // md5-derived segment per event, banded by bbox cover cells at
    // pitch 256 with reporter-cell dedupe, exact integer orientation
    // tests — no all-pairs, no floats
    "q_crossings" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val ax = hv(1) * 256 + hv(2) * 16 + hv(3) + 128
      val ay = hv(4) * 256 + hv(5) * 16 + hv(6) + 128
      val segs = ev.select(col("event_id").as("sid"),
        col("user_id").as("u"), ax.as("ax"), ay.as("ay"),
        (ax + hv(7) * 16 + hv(8) - 128).as("bx"),
        (ay + hv(9) * 16 + hv(10) - 128).as("by"))
      graft.ops.SpatialJoin.segmentCrossings(segs, 256L)
    }),

    // Mann-Kendall trend per 512-cell over daily event counts (the
    // emerging-hotspot space-time-cube statistic): S = sum of
    // pairwise count-comparison signs, exact integers
    "q_mk_trend" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"),
        unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.mannKendallCells(pts, 512L, 86400L)
        .orderBy("gi", "gj")
    }),

    // emerging-hotspot classification: the MK-trend cells composed
    // with a division-free hot-NOW test on the final day slice —
    // the space-time-cube taxonomy (intensifying/persistent/
    // diminishing/emerging), same fixture as q_mk_trend
    "q_emerging" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"),
        unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.emergingHotspots(pts, 512L, 86400L)
        .orderBy("gi", "gj")
    }),

    // per-cell dyadic EWMA burst detector over the trailing 30 days:
    // α=1/2 smoothing via the exact closed form 2^t·s_t = Σ 2^(i−1)x_i
    // (gap days need no densification), anomaly = x_t > 6·s_{t−1}
    // stated integer-exactly — per-cell windows over ≤30 rows
    "q_ewma_anomaly" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"),
        unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.ewmaAnomaly(pts, 512L, 86400L, 30)
        .orderBy("gi", "gj", "day")
    }),

    // bivariate colocation (cross-K pieces) between error and
    // purchase events: pair + participation counts at 3 radii from
    // ONE banded candidate set
    "q_colocate" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      def pts(ty: String) = ev.where(col("event_type") === ty)
        .select(col("event_id").as("id"),
          (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
          (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"))
      graft.ops.SpatialJoin.colocationCounts(
        pts("error"), pts("purchase"), Seq(32L, 64L, 128L)).orderBy("r")
    }),

    // map-matching snap: every event point to its nearest md5-derived
    // road segment within r=128 (exact rational point-to-segment
    // distance, anti-join argmin) → per-road match census
    "q_snap_roads" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(col("event_id").as("id"),
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"))
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
    }),

    // Hilbert-vs-Morton curve locality audit over the occupied
    // 256x256 cells of the event point set: total Manhattan step
    // length along each key order (the spatial-layout quantity)
    "q_hilbert" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"))
      graft.ops.SpatialJoin.curveLocality(pts, 16L, 8)
    }),

    // Hilbert RANGE SCAN — the file-skipping planner demo: the query
    // rect [37,97)×[55,200) over the order-8 cell grid is decomposed
    // driver-side into minimal contiguous key ranges (quadtree
    // descent, corner-entry d-intervals, merged), then the point set
    // is counted per range via a broadcast range join. At 100 TB the
    // same ranges become row-group min/max skip predicates over the
    // Hilbert-clustered layout; the decomposition is data-independent.
    "q_hilbert_ranges" -> ((s, dir) => {
      import s.implicits._
      graft.expr.GraftFunctions.register(s)
      val rdf = broadcast(
        graft.ops.SpatialJoin.hilbertRanges(37, 55, 97, 200, 8)
          .zipWithIndex
          .map { case ((lo, hi), i) => (i.toLong, lo, hi) }
          .toDF("range_id", "lo", "hi"))
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(
          (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
          (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"))
        .select(expr("px div 16").as("cx"), expr("py div 16").as("cy"))
        .select(graft.ops.SpatialJoin.hilbertKey(
          col("cx"), col("cy"), 8).as("d"))
      rdf.join(pts, col("d").between(col("lo"), col("hi")), "left")
        .groupBy("range_id", "lo", "hi")
        .agg(count(col("d")).as("n_pts"))
        .orderBy("range_id")
    }),

    // discrete Voronoi / nearest-facility census: every event point
    // assigned to its nearest of 50 md5-derived sites (broadcast
    // argmin via lexicographic struct MIN, ties to smallest sid)
    "q_voronoi" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(col("event_id").as("id"),
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"))
      val sh = md5(col("fid").cast("string"))
      def sv(i: Int) = hexVal(sh, i).cast("long")
      val sites = s.range(50).select(col("id").as("fid"))
        .select(col("fid").as("sid"),
          (sv(1) * 256 + sv(2) * 16 + sv(3)).as("sx"),
          (sv(4) * 256 + sv(5) * 16 + sv(6)).as("sy"))
      graft.ops.SpatialJoin.nearestFacility(pts, sites).orderBy("sid")
    }),

    // Epanechnikov KDE heatmap at r=256: integer kernel weights
    // r^2 - d^2 summed per cell center, explode-9 + one aggregate
    "q_kde" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"))
      graft.ops.SpatialJoin.kdeHeatmap(pts, 256L).orderBy("gi", "gj")
    }),

    // convoy pairs: users co-located (d <= 256) in >= 3 consecutive
    // day buckets — per-day banded pair join + island-trick runs
    "q_convoy" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 150)
      val hm = md5(col("event_id").cast("string"))
      import graft.sketch.Cms.hexVal
      def hv(i: Int) = hexVal(hm, i).cast("long")
      val pts = ev.select(col("user_id").as("u"),
        (hv(1) * 256 + hv(2) * 16 + hv(3)).as("px"),
        (hv(4) * 256 + hv(5) * 16 + hv(6)).as("py"),
        unix_timestamp(col("ts")).as("t"))
      graft.ops.Tracks.convoyPairs(pts, 256L, 86400L, 3)
        .orderBy("ua", "ub")
    }),

    // histogram matching epoch 0 → epoch 3 (radiometric
    // normalization LUT): per-image shift mass + mapped checksums
    "q_hist_match" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 4, smallRaw)
        .where(col("t").isin(0, 3))
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", graft.ops.Terrain.histMatchAgg(
          col("w").cast("int"), col("h").cast("int"),
          lit(0), lit(3), col("eps")))
        .select(col("image_id"), col("r._1").as("n_px"),
          col("r._2").as("shift_sum"), col("r._3").as("lut_sum"),
          col("r._4").as("chk"))
        .orderBy("image_id")),

    // joint histogram between epochs 0 and 3 (the change matrix /
    // MI registration building block): 256-wide bins, exact counts
    "q_joint_hist" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 4, smallRaw)
        .where(col("t").isin(0, 3))
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", explode(graft.ops.Terrain.jointHistAgg(
          col("w").cast("int"), col("h").cast("int"),
          lit(0), lit(3), col("eps"))))
        .select(col("image_id"), col("r._1").as("b0"),
          col("r._2").as("b3"), col("r._3").as("n_px"),
          col("r._4").as("dsum"))
        .orderBy("image_id", "b0", "b3")),

    // chi-square association over the epoch-0/3 joint histogram:
    // margins × margins cross product per image (absent cells o=0),
    // exact n-scaled (o−e)²/e summed as scaled integers — the
    // change-STRENGTH statistic next to the raw change matrix
    "q_chi2_assoc" -> ((s, dir) =>
      Stats.chi2FromJointHist(
        Synth.demEpochImages(s, dir, 4, smallRaw)
          .where(col("t").isin(0, 3))
          .groupBy("k", "image_id", "w", "h")
          .agg(collect_list(struct(col("t").cast("int").as("t"),
            col("bytes"))).as("eps"))
          .withColumn("r", explode(graft.ops.Terrain.jointHistAgg(
            col("w").cast("int"), col("h").cast("int"),
            lit(0), lit(3), col("eps"))))
          .select(col("image_id"), col("r._1").as("b0"),
            col("r._2").as("b3"), col("r._3").as("n_px")))
        .orderBy("image_id")),

    // radiometric cross-calibration: per-image OLS of epoch-3 on
    // epoch-0 pixels (relative radiometric normalization), exact
    // integer moments (slope/intercept are one rational step away)
    "q_radcal" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 4, smallRaw)
        .where(col("t").isin(0, 3))
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", graft.ops.Terrain.radcalAgg(
          col("w").cast("int"), col("h").cast("int"),
          lit(0), lit(3), col("eps")))
        .select(col("image_id"), col("r._1").as("n_px"),
          col("r._2").as("sx"), col("r._3").as("sy"),
          col("r._4").as("sxy_n"), col("r._5").as("sxx_n"))
        .orderBy("image_id")),

    // count-min sketch over corpus tokens with md5-derived row
    // hashes: top-5 true terms vs their overestimate-only estimates
    "q_cms_topk" -> ((s, dir) => {
      val terms = docs(s, dir)
        .select(explode(graft.text.TextOps.toks).as("term"))
      val sk = graft.sketch.Cms.sketch(terms, col("term"), 4, 64)
      val truth = terms.groupBy("term")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), col("term")).limit(5)
      graft.sketch.Cms.estimate(sk, truth, col("term"), 4, 64)
        .orderBy(desc("true_cnt"), col("term"))
    }),

    // KMV distinct sketch per source: k-th smallest distinct md5 —
    // bounded mergeable state, map-side partial aggregation
    "q_kmv_distinct" -> ((s, dir) => {
      val kmv = udaf(new graft.text.KmvSketch(8),
        org.apache.spark.sql.Encoders.STRING)
      docs(s, dir).select(col("source"), md5(col("text")).as("h"))
        .distinct()
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"), kmv(col("h")).as("kth_hash"))
        .where(col("kth_hash").isNotNull)
        .orderBy("source")
    }),

    // frequent-itemset mining (a-priori L1+L2 as one level): baskets
    // = (user, hour), items = event_type#(props.k div 50); pairs
    // with support >= 10 — within-basket self-join (constant fanout,
    // bounded by the item vocabulary), map-side-combined pair counts
    "q_itemsets" -> ((s, dir) =>
      graft.ops.Itemsets.frequentPairs(
          s.read.parquet(s"$dir/events.parquet"), 10L)
        .orderBy("item_a", "item_b")),

    // association rules (a-priori level 2 → rules): both directions
    // per frequent pair, exact scaled confidence + lift, minConf cut;
    // the rule stage is vocabulary²-bounded, item counts broadcast
    "q_assoc_rules" -> ((s, dir) =>
      graft.ops.Itemsets.rules(
          s.read.parquet(s"$dir/events.parquet"), 10L, 10000L)
        .orderBy("ante", "cons")),

    // Laplace-smoothed class-affinity classifier, trained AND applied
    // in-engine: md5-bucket train/val split, (class, term) count model
    // broadcast to the scoring join, argmax by (score desc, lang asc)
    "q_classify" -> ((s, dir) =>
      graft.text.TextOps.classAffinity(docs(s, dir), 200)
        .orderBy("doc_id")),

    // classifier EVALUATION: the confusion matrix over the val split
    // — one classes²-bounded rollup of the q_classify output
    "q_confusion" -> ((s, dir) =>
      graft.text.TextOps.classAffinity(docs(s, dir), 200)
        .groupBy(col("lang").as("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")),

    // first-order Markov next-event transition matrix: per-user
    // window pass, type²-bounded counts, exact scaled probabilities
    "q_markov" -> ((s, dir) =>
      graft.ops.TimeJoins.eventTransitions(
          s.read.parquet(s"$dir/events.parquet"))
        .orderBy("a", "b")),

    // per-user hourly gap-fill: bucket events by hour, generate the
    // DENSE hour series per user, carry the last seen event_type
    // forward across empty hours (ignore-nulls last over the ordered
    // window) — the telemetry resample/ffill pattern
    "q_events_gapfill" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") < 40)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hr"),
          col("ts"), col("event_id"), col("event_type"))
      val hourly = ev.groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("et"))
      val dense = hourly.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .withColumn("hr", explode(sequence(col("h0"), col("h1"))))
        .select("user_id", "hr")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("hr")
      dense.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          last(col("et"), ignoreNulls = true).over(w).as("etype_filled"))
        .orderBy("user_id", "hr")
    }),

    // watershed basins: every cell labeled by its terminal pit via
    // POINTER DOUBLING (log-round convergence — ~10 shuffles for
    // 1000-cell flow paths where frontier propagation needs ~1000);
    // per-image basin count / max size / size² checksum
    "q_watershed" -> ((s, dir) =>
      graft.ops.Terrain.watershed(Synth.demImages(s, dir, smallRaw))
        .groupBy(col("image_id"), col("px"), col("py"))
        .agg(count(lit(1)).as("sz"))
        .groupBy("image_id")
        .agg(count(lit(1)).as("n_basins"), max("sz").as("max_basin"),
          sum(col("sz") * col("sz")).as("basin_sq_sum"))
        .orderBy("image_id")),

    // per-pixel OLS trend over a 4-epoch DEM stack: integer slope
    // numerator num = T·Σ(t·v) − Σt·Σv per pixel; per-image rising/
    // falling counts + checksum. The stack arrives as one payload row
    // per epoch (the multi-file time-series model).
    "q_trend" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 4, smallRaw)
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("tr", graft.ops.Terrain.trendAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps")))
        .select(col("image_id"), col("tr._1").as("n_pos"),
          col("tr._2").as("n_neg"), col("tr._3").as("num_sum"))
        .orderBy("image_id")),

    // per-pixel CUSUM changepoint over a 6-epoch stack: s* =
    // argmax_s |T·prefix_s − s·total| (ties → smallest s); per-image
    // changepoint-location histogram + scan-statistic checksum
    "q_changepoint" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 6, smallRaw)
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", explode(graft.ops.Terrain.changepointAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("t_star"),
          col("r._2").as("n_px"), col("r._3").as("dsum"))
        .where(col("n_px") > 0)
        .orderBy("image_id", "t_star")),

    // shot-boundary detection over the 6-epoch stack (video clip
    // splitting): SAD of consecutive 128-wide intensity histograms,
    // cut fires when 128·SAD > n_px — one decode per frame, exact ints
    "q_shot_cuts" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 6, smallRaw)
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", explode(graft.ops.Terrain.shotCutAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("t_from"),
          col("r._2").as("sad"), col("r._3").as("is_cut"))
        .orderBy("image_id", "t_from")),

    // end-to-end VIDEO curation pipeline (the clip-extraction recipe
    // of a multimodal training-data curator), composed from the
    // relational pieces: histogram-SAD shot cuts segment each 6-frame
    // stack into clips (clip id = #cuts before t), the middle frame
    // is the keyframe, and the clip ships iff its keyframe passes the
    // variance-of-Laplacian sharpness gate. One decode pass for the
    // cut scan + one for the kept keyframes; everything between is
    // joins/aggregates keyed on the video id.
    "q_curate_video" -> ((s, dir) => {
      val eps = Synth.demEpochImages(s, dir, 6, smallRaw)
      val cuts = eps.groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("e"))
        .withColumn("r", explode(graft.ops.Terrain.shotCutAgg(
          col("w").cast("int"), col("h").cast("int"), col("e"))))
        .select(col("image_id").as("c_vid"),
          col("r._1").cast("long").as("t_from"), col("r._3").as("cut"))
        .where(col("cut") === 1)
      val frames = eps.select(col("image_id"), col("t"))
      val cid = frames.join(cuts,
          frames("image_id") === col("c_vid") && col("t_from") < col("t"),
          "left")
        .groupBy(col("image_id"), col("t"))
        .agg(count(col("c_vid")).as("clip_id"))
      val clips = cid.groupBy(col("image_id"), col("clip_id"))
        .agg(min(col("t")).as("t_start"), max(col("t")).as("t_end"))
        .withColumn("kf",
          graft.ops.Tiling.idiv(col("t_start") + col("t_end"), lit(2L)))
      clips.join(eps.select(col("image_id").as("e_vid"), col("t"),
            col("bytes"), col("w"), col("h")),
          col("e_vid") === clips("image_id") && col("t") === col("kf"))
        .withColumn("bf", graft.ops.Vision.blurScoreAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(1600000L)))
        .select(col("image_id"), col("clip_id"),
          col("t_start").cast("long").as("t_start"),
          col("t_end").cast("long").as("t_end"), col("kf"),
          col("bf._4").as("score"), col("bf._5").as("kept"))
        .orderBy("image_id", "clip_id")
    }),

    // temporal max-value composite (Holben 1986) over a 6-epoch
    // stack: winning epoch = argmax v (ties → earliest t); per-image
    // composite provenance histogram + winner checksum
    "q_temporal_composite" -> ((s, dir) =>
      Synth.demEpochImages(s, dir, 6, smallRaw)
        .groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("eps"))
        .withColumn("r", explode(graft.ops.Terrain.compositeAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("t_win"),
          col("r._2").as("n_px"), col("r._3").as("v_sum"))
        .where(col("n_px") > 0)
        .orderBy("image_id", "t_win")),

    // exact squared-EUCLIDEAN distance transform (Felzenszwalb
    // two-pass lower envelope, outside-is-background) on the
    // irregular half-plane mask (p3 > p2 within the valid rect):
    // per-image exact-integer aggregates + positional checksum; the
    // oracle recomputes d² brute-force against the boundary
    // background set (any nearest background cell is 8-adjacent to
    // some foreground cell) plus the closed-form axial edge term
    "q_distance_transform" -> ((s, dir) => {
      val dt = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val fg = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          !r.isNaN && !n.isNaN && n - r > 0
        }
        val d2 = Pixels.edt2(fg, w, h)
        var nfg = 0L; var sm = 0L; var mx = 0L; var chk = 0L
        var i = 0
        while (i < w * h) {
          if (fg(i)) {
            val v = d2(i).toLong
            nfg += 1; sm += v; if (v > mx) mx = v
            chk += v * ((i % w) + 131L * (i / w))
          }
          i += 1
        }
        (nfg, sm, mx, chk)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("d", dt(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("d._1").as("n_fg"),
          col("d._2").as("d2sum"), col("d._3").as("d2max"),
          col("d._4").as("d2chk"))
        .orderBy("image_id")
    }),

    // set_gain/offset column surface: band-0 stats AFTER the read-side
    // raw·gain + offset (bandattr carried as column metadata)
    "q_gain_offset" -> ((s, dir) => {
      val df = Bands.setGainOffset(Synth.imagesWithBytes(s, dir, smallRaw),
        "blue", gain = 0.1, offset = 5.0)
      df.withColumn("g", Bands.gainOffsetStatsAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands),
          element_at(col("bandattr"), "blue").getField("gain"),
          element_at(col("bandattr"), "blue").getField("offset")))
        .select(col("image_id"), col("g._1").as("n_valid"),
          col("g._2").as("fsum"))
        .orderBy("image_id")
    }),

    // tile write/stitch round trip: padded tile slices (read(chunk))
    // de-padded and re-assembled per image (write(chunk) inverse) —
    // sums must equal the direct band-0 decode (identity oracle)
    "q_tile_stitch" -> ((s, dir) =>
      Tiling.stitch(
          Tiling.tileSlices(Synth.imagesWithBytes(s, dir, smallRaw),
            chunkBytes = 2048, padding = 2))
        .orderBy("image_id")),

    // metadata get/set: dataset-level + band-level (band/key flattened)
    "q_metadata" -> ((s, dir) => {
      val withMeta = Bands.setMeta(imgs(s, dir), Map(
        "sensor" -> col("fmt"),
        "pixels" -> (col("w") * col("h")).cast("string")))
      val withBand = Bands.setBandMeta(withMeta, "red", Map(
        "wavelength_nm" -> lit("650"),
        "stripe_px" -> col("nw").cast("string")))
      withBand.select(col("image_id"),
          explode(map_concat(col("meta"), col("bandmeta"))).as(Seq("key", "value")))
        .orderBy("image_id", "key")
    }),

    // add_band: derived quantized-NDVI plane appended + re-encoded;
    // stats of the new band prove the payload round trip
    "q_add_band" -> ((s, dir) => {
      val ndviq: Array[Array[Double]] => Array[Double] = cube => {
        val r = cube(2); val n = cube(3)
        Array.tabulate(r.length)(i =>
          if (r(i).isNaN || n(i).isNaN) Double.NaN
          else math.floor((n(i) - r(i)) / (n(i) + r(i)) * 1000) + 1000)
      }
      val df = Bands.addBand(Synth.imagesWithBytes(s, dir, smallRaw),
        "ndviq", ndviq)
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 7), fmt)(6)
        var n = 0L; var vs = 0L; var i = 0
        while (i < p.length) {
          if (!p(i).isNaN) { n += 1; vs += p(i).toLong }
          i += 1
        }
        (n, vs)
      })
      df.withColumn("a", agg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), size(col("bands")).cast("long").as("n_bands"),
          col("a._1").as("n_valid"), col("a._2").as("vsum"))
        .orderBy("image_id")
    }),

    // set_bandname: registry rename with uniqueness enforcement
    "q_band_rename" -> ((s, dir) =>
      Bands.renameBand(imgs(s, dir), "nir", "nir08")
        .select(col("image_id"),
          posexplode(col("bands")).as(Seq("pos", "band")))
        .select(col("image_id"), col("pos").cast("long").as("pos"), col("band"))
        .orderBy("image_id", "pos")),

    // lossless geometric AUGMENTATION (hflip + rot90) on band 0:
    // per image two rows with a POSITION-weighted checksum
    // (Σ DN·10⁶·outIdx) — sensitive to where every pixel landed, so
    // the remap itself is value-checked, not just the multiset of DNs
    "q_augment" -> ((s, dir) => {
      val aug = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        import graft.ops.Augment
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val f = Augment.posChecksum(Augment.flipH(p, w, h))
        val r = Augment.posChecksum(Augment.rot90(p, w, h))
        Seq(("hflip", f._1, f._2), ("rot90", r._1, r._2))
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("a", explode(aug(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"), col("a._1").as("op"),
          col("a._2").as("n_valid"), col("a._3").as("checksum"))
        .orderBy("image_id", "op")
    }),

    // ViT-style PATCHIFY: the 16×16 non-overlapping patch grid per
    // image (ragged edges clipped), one row per patch with a
    // patch-local position-weighted checksum — the image analog of
    // sequence packing (what a ViT embedding layer consumes)
    "q_patchify" -> ((s, dir) => {
      val pat = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        graft.ops.Augment.patchify(p, w, h, 16)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("t", explode(pat(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"),
          col("t._1").cast("long").as("px"), col("t._2").cast("long").as("py"),
          col("t._3").as("n_valid"), col("t._4").as("checksum"))
        .orderBy("image_id", "py", "px")
    }),

    // CAPTION analytics — the text-pipeline stack applied to the image
    // table's caption column (the cross-modal face of the input_hint
    // schema): exact caption dedup groups over ALL images (metadata
    // only, no payload decode) ...
    "q_caption_dedup" -> ((s, dir) =>
      graft.text.TextOps.dedupExact(
          Synth.images(s, dir)
            .select(col("k").as("doc_id"), col("caption").as("text")))
        .orderBy("h")),

    // ... and caption vocabulary induction (term df/cf), same reuse
    "q_caption_vocab" -> ((s, dir) =>
      graft.text.TextOps.vocab(
          Synth.images(s, dir)
            .select(col("k").as("doc_id"), col("caption").as("text")), 40)),

    // seeded RANDOM-CROP augmentation: the 12×12 window anchor is an
    // md5 draw over image_id (content-independent, reshuffle-stable —
    // the same determinism contract as the doc sampling ops), the
    // crop kernel runs on the decoded plane, and the checksum is
    // position-weighted over the crop's local grid
    "q_augment_crop" -> ((s, dir) => {
      val cs = 12
      val cropSum = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                         x0: Int, y0: Int) => {
        import graft.core.Codec
        import graft.ops.Augment
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        Augment.posChecksum(Augment.crop(p, w, h, x0, y0, cs, cs))
      })
      val x0 = pmod(graft.text.TextOps.md5Bucket(
        concat(col("image_id"), lit(":x"))), col("w") - (cs - 1))
      val y0 = pmod(graft.text.TextOps.md5Bucket(
        concat(col("image_id"), lit(":y"))), col("h") - (cs - 1))
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("x0", x0.cast("int")).withColumn("y0", y0.cast("int"))
        .withColumn("c", cropSum(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("x0"), col("y0")))
        .select(col("image_id"), col("x0").cast("long").as("x0"),
          col("y0").cast("long").as("y0"),
          col("c._1").as("n_valid"), col("c._2").as("checksum"))
        .orderBy("image_id")
    }),

    // WebDataset-style shard packing: md5 writer buckets, per-writer
    // greedy first-fit into 64 KiB shards in image_id order; offset =
    // byte position inside the shard (the tar index). Also implicitly
    // value-checks payload byte sizes: the oracle recomputes nbytes
    // from (fmt, w, h) while Spark measures the real encoded payload
    "q_pack_shards" -> ((s, dir) =>
      graft.ops.Sharding.packShards(
          Synth.imagesWithBytes(s, dir, smallRaw), 65536L, 2)
        .orderBy("image_id")),

    // end-to-end IMAGE curation pipeline (the image-side q_curate):
    // resolution guardrail → caption-exact keep-one → AR-bucket
    // batching of survivors → shard packing of survivors' real
    // payload bytes; dropped rows carry NULLs
    "q_curate_images" -> ((s, dir) =>
      graft.ops.Sharding.curateImages(
          // wider than smallRaw (w,h ≤ 96, exact raw codecs): the
          // ≤64 set shares caption congruences — only 2 captions —
          // which would leave the survivor path a single row
          Synth.imagesWithBytes(s, dir,
            _.where(col("w") <= 96 && col("h") <= 96 &&
              (col("k") % 6 === 1 || col("k") % 6 === 2))),
          ArLattice, 8, 65536L, 2, 4000L)
        .orderBy("image_id")),

    // ASPECT-RATIO bucketed batching (multimodal training batch
    // assembly): nearest AR bucket from a 9-ratio lattice (exact
    // integer numerator, one IEEE divide; ties → lowest bucket), md5
    // writer sharding, fixed-size (8) batches per (writer, bucket)
    "q_ar_buckets" -> ((s, dir) =>
      graft.ops.Sharding.arBuckets(imgs(s, dir), ArLattice, 8, 4)
        .orderBy("image_id")),

    // PER-PIXEL LAZY CHAIN (§2.3, the reference's queued-function
    // read path): sqrt → +5 → ×2 over band 0 with the nodata-restore
    // rule. Every step is a correctly-rounded IEEE op applied in the
    // same order by both engines (sqrt is exactly rounded per IEEE
    // 754), so Σ floor(out·1e6) is value-exact in SQL — the chain
    // gate that was previously spec-only.
    "q_chain_ops" -> ((s, dir) => {
      val ch = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val out = Pixels.applyChain(p,
          Seq(math.sqrt, (v: Double) => v + 5.0, (v: Double) => v * 2.0))
        var n = 0L; var fs = 0L; var i = 0
        while (i < out.length) {
          if (!out(i).isNaN) { n += 1; fs += math.floor(out(i) * 1e6).toLong }
          i += 1
        }
        (n, fs)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("c", ch(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("c._1").as("n_valid"),
          col("c._2").as("fsum"))
        .orderBy("image_id")
    }),

    // autoscale (min/max variant): band 0 rescaled to [0,1000]
    "q_autoscale" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("a", Algorithms.autoscaleAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("a._1").as("n_valid"),
          col("a._2").as("fsum"))
        .orderBy("image_id")),

    // connected-component labeling (blob extraction, 8-connectivity)
    // on the diagonal-stripe mask (p3-p2 > 0, (p3-p2) % 5 in {1,2}):
    // canonical label = min linear pixel index per component; the
    // oracle floods min-labels through a bounded recursive CTE
    "q_blob_labels" -> ((s, dir) => {
      val bl = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val fg = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) false
          else {
            val d = (n - r).toLong
            d > 0 && { val m = d % 5; m == 1 || m == 2 }
          }
        }
        val lab = Pixels.labelComponents(fg, w, h)
        val sizes = new java.util.HashMap[Int, Long]()
        var i = 0
        while (i < lab.length) {
          if (lab(i) >= 0) sizes.merge(lab(i), 1L, _ + _)
          i += 1
        }
        var nfg = 0L; var mxs = 0L; var lsum = 0L; var schk = 0L
        val it = sizes.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          nfg += e.getValue
          if (e.getValue > mxs) mxs = e.getValue
          lsum += e.getKey.toLong
          schk += e.getValue * e.getKey.toLong
        }
        (sizes.size.toLong, nfg, mxs, lsum, schk)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("c", bl(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("c._1").as("n_comp"),
          col("c._2").as("n_fg"), col("c._3").as("max_size"),
          col("c._4").as("labelsum"), col("c._5").as("sizechk"))
        .orderBy("image_id")
    }),

    // polygonize-lite (the vector step over blob labels): one row per
    // component with exact-integer bbox, size, and 4-neighborhood
    // PERIMETER (pixel edges facing non-component cells, image border
    // included) — what sieve/polygonize emits before ring tracing
    "q_polygonize" -> ((s, dir) => {
      val pg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val fg = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) false
          else {
            val d = (n - r).toLong
            d > 0 && { val m = d % 5; m == 1 || m == 2 }
          }
        }
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
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("pc", explode(pg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"), col("pc._1").as("label"),
          col("pc._2").as("size"), col("pc._3").as("bx0"),
          col("pc._4").as("by0"), col("pc._5").as("bx1"),
          col("pc._6").as("by1"), col("pc._7").as("perimeter"))
        .orderBy("image_id", "label")
    }),

    // SIEVE filter (GDAL's classic small-blob removal): components
    // under minPix=10 pixels drop to background; per-image before/
    // after counts + positional checksum of the kept mask
    "q_sieve" -> ((s, dir) => {
      val sv = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val fg = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) false
          else {
            val d = (n - r).toLong
            d > 0 && { val m = d % 5; m == 1 || m == 2 }
          }
        }
        val lab = Pixels.labelComponents(fg, w, h)
        val sizes = new java.util.HashMap[Int, Long]()
        var i = 0
        while (i < lab.length) {
          if (lab(i) >= 0) sizes.merge(lab(i), 1L, _ + _)
          i += 1
        }
        var nb = 0L; var cb = sizes.size.toLong
        var na = 0L; var chk = 0L
        val kept = new java.util.HashSet[Int]()
        val it = sizes.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next(); nb += e.getValue
          if (e.getValue >= 10L) kept.add(e.getKey)
        }
        i = 0
        while (i < lab.length) {
          if (lab(i) >= 0 && kept.contains(lab(i))) {
            na += 1; chk += (i % w) + 131L * (i / w)
          }
          i += 1
        }
        (nb, cb, na, kept.size.toLong, chk)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("v", sv(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("v._1").as("n_fg_before"),
          col("v._2").as("n_comp_before"), col("v._3").as("n_fg_after"),
          col("v._4").as("n_comp_after"), col("v._5").as("keptchk"))
        .orderBy("image_id")
    }),

    // MAJORITY (mode) filter — classification smoothing: each valid
    // pixel takes the modal class of its valid 3x3 neighborhood
    // (lowest class on ties); nodata stays nodata and casts no vote.
    // Classes = ((p3-p2) % 5 + 5) % 5 — the extract_classes-style
    // derived classification over the valid rect
    "q_majority" -> ((s, dir) => {
      val mj = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val cls = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) -1
          else (((n - r).toLong % 5 + 5) % 5).toInt
        }
        var nv = 0L; var sm = 0L; var chk = 0L; var chg = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = y * w + x
            if (cls(p) >= 0) {
              val cnt = new Array[Int](5)
              var dy = -1
              while (dy <= 1) {
                var dx = -1
                while (dx <= 1) {
                  val xx = x + dx; val yy = y + dy
                  if (xx >= 0 && xx < w && yy >= 0 && yy < h &&
                      cls(yy * w + xx) >= 0) cnt(cls(yy * w + xx)) += 1
                  dx += 1
                }
                dy += 1
              }
              var best = 0; var bi = 0; var j = 0
              while (j < 5) {
                if (cnt(j) > best) { best = cnt(j); bi = j }
                j += 1
              }
              nv += 1; sm += bi
              chk += bi.toLong * (x + 131L * y)
              if (bi != cls(p)) chg += 1
            }
            x += 1
          }
          y += 1
        }
        (nv, sm, chk, chg)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("m", mj(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("m._1").as("n_valid"),
          col("m._2").as("modesum"), col("m._3").as("modechk"),
          col("m._4").as("n_changed"))
        .orderBy("image_id")
    }),

    // histogram EQUALIZATION (nonlinear stretch next to autoscale):
    // classic discrete formula over band 2, L=256, exact integers
    "q_equalize" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("e", Algorithms.equalizeAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(2)))
        .select(col("image_id"), col("e._1").as("n_valid"),
          col("e._2").as("eqsum"), col("e._3").as("eqmin"),
          col("e._4").as("eqmax"), col("e._5").as("eqchk"))
        .orderBy("image_id")),

    // ---- distributed warp_into / pixel-level mosaic merge ----
    // identity warp preserves every valid pixel (the reference's
    // sum-preservation golden, test_GeoImage.py:207-215): each image
    // warps into its own grid through the tile-gather join
    "q_warp_into_identity" -> ((s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
      val grids = imgs(s, dir).where(col("w") <= 64 && col("h") <= 64 &&
          (col("k") % 6 === 1 || col("k") % 6 === 2))
        .select(col("image_id").as("gid"), col("x0m").as("gx0"),
          col("y0m").as("gy0"), col("x1m").as("gx1"), col("y1m").as("gy1"))
      Warp.warpInto(im, grids, pairPredicate = col("gid") === col("image_id"))
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    }),

    // pixel-level cookie-cutter: every smallRaw image warps onto each
    // padded destination grid it overlaps; per-pixel last-wins merge
    // (valid overwrites, nodata never) — value-exact vs a per-pixel
    // winner oracle. Grids = image footprints padded ±512 mdeg, so the
    // resample window is offset from the source grid (non-identity)
    // and any overlapping neighbor image merges in by key order.
    "q_mosaic_pixels" -> ((s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
      val grids = imgs(s, dir).where(col("w") <= 64 && col("h") <= 64 &&
          (col("k") % 6 === 1 || col("k") % 6 === 2))
        .select(col("image_id").as("gid"),
          (col("x0m") - 512).as("gx0"), (col("y0m") - 512).as("gy0"),
          (col("x1m") + 512).as("gx1"), (col("y1m") + 512).as("gy1"))
      Warp.warpInto(im, grids)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    }),

    // per-pixel MAX composite (best-pixel temporal mosaic rule):
    // the warp_into gather join with the order-insensitive NaN-ignoring
    // max merge instead of overlay order. The small images re-anchor
    // onto one dense 380×380 mdeg window (pure metadata remap) so
    // every destination pixel genuinely merges several images — at
    // sf0.01 all 2668 valid pixels are multi-hit and the max rule
    // diverges from overlay on every one of them
    "q_composite_max" -> ((s, dir) => {
      import s.implicits._
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("x0m", (col("k") % 4) * 60 - 100)
        .withColumn("y0m", ((col("k") * 3) % 4) * 60 - 100)
        .withColumn("x1m", col("x0m") + col("w") * 4)
        .withColumn("y1m", col("y0m") + col("h") * 4)
      val grids = Seq((0L, -120L, -120L, 260L, 260L))
        .toDF("gid", "gx0", "gy0", "gx1", "gy1")
      Warp.warpInto(im, grids, mergeMode = 1)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    }),

    // distance-FEATHERED mosaic blend (the seamline-free warp merge:
    // per pixel Σ w·v / Σ w with w = the source pixel's exact squared
    // Euclidean distance to its image's nodata/outside — Pixels.edt2)
    // on the dense multi-hit fixture; exact integer numerator and
    // denominator so the oracle replays the blend with the rect-mask
    // closed form w = min(x-nw+1, w-x, y+1, h-y)²
    "q_mosaic_feather" -> ((s, dir) => {
      import s.implicits._
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("x0m", (col("k") % 4) * 60 - 100)
        .withColumn("y0m", ((col("k") * 3) % 4) * 60 - 100)
        .withColumn("x1m", col("x0m") + col("w") * 4)
        .withColumn("y1m", col("y0m") + col("h") * 4)
      val grids = Seq((0L, -120L, -120L, 260L, 260L))
        .toDF("gid", "gx0", "gy0", "gx1", "gy1")
      Warp.warpInto(im, grids, mergeMode = 3)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"),
          sum(col("wvsum")).as("wvsum"), sum(col("wsum")).as("wsum"))
        .orderBy("gid")
    }),

    // per-pixel lower-MEDIAN composite (robust rule — rejects the
    // outliers max/overlay keep) on the same dense multi-hit fixture
    "q_composite_median" -> ((s, dir) => {
      import s.implicits._
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("x0m", (col("k") % 4) * 60 - 100)
        .withColumn("y0m", ((col("k") * 3) % 4) * 60 - 100)
        .withColumn("x1m", col("x0m") + col("w") * 4)
        .withColumn("y1m", col("y0m") + col("h") * 4)
      val grids = Seq((0L, -120L, -120L, 260L, 260L))
        .toDF("gid", "gx0", "gy0", "gx1", "gy1")
      Warp.warpInto(im, grids, mergeMode = 2)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    }),

    // CUTLINE mosaic: the q_mosaic_pixels pipeline with a global
    // rectangular cutline (mdeg, grid units) — destination pixels whose
    // CENTER ray-casts outside the ring become nodata before the merge
    // (GeoRaster.cpp:261-285's rasterized cutline); for the
    // axis-aligned ring the engine's PIP is exactly the half-open rect
    // the oracle states
    "q_mosaic_cut" -> ((s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
      val grids = imgs(s, dir).where(col("w") <= 64 && col("h") <= 64 &&
          (col("k") % 6 === 1 || col("k") % 6 === 2))
        .select(col("image_id").as("gid"),
          (col("x0m") - 512).as("gx0"), (col("y0m") - 512).as("gy0"),
          (col("x1m") + 512).as("gx1"), (col("y1m") + 512).as("gy1"))
      val cut = graft.core.Geom.rectWkt(-100000, -40000, 20000, 30000)
      Warp.warpInto(im, grids, cutWkt = lit(cut))
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    }),

    // MULTI-BAND mosaic: same tile-gather join, every stored band warps
    // through the per-band fragment kernel (reference warps each band,
    // GeoImage.cpp:329-338) — per-(grid, band) merged sums, value-exact
    "q_mosaic_bands" -> ((s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, smallRaw)
      val grids = imgs(s, dir).where(col("w") <= 64 && col("h") <= 64 &&
          (col("k") % 6 === 1 || col("k") % 6 === 2))
        .select(col("image_id").as("gid"),
          (col("x0m") - 512).as("gx0"), (col("y0m") - 512).as("gy0"),
          (col("x1m") + 512).as("gx1"), (col("y1m") + 512).as("gy1"))
      Warp.warpInto(im, grids, nbBands = Synth.NumBands)
        .groupBy("gid", "band")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid", "band")
    }),

    // float k-means / rxd / masks: rows-only (float sums are partition-
    // order-dependent; matrix-inverse and multi-pass morphology have no
    // SQL mirror) — but the _exact k-means variants and pansharp below
    // ARE oracle-exact
    "q_kmeans_emb" -> ((s, dir) =>
      Algorithms.kmeansEmbeddings(s, emb(s, dir), 4, 3).orderBy("vec_id")),

    // BIT-REPRODUCIBLE k-means (exact-integer variant): quantized
    // coordinates, truncated integer centroids — every cross-row
    // reduction is an integer sum, so the result is identical across
    // partitionings and engines, and the DuckDB oracle replays all
    // three Lloyd rounds exactly (unlike float kmeans above)
    "q_kmeans_exact" -> ((s, dir) =>
      Algorithms.kmeansEmbeddingsExact(s, emb(s, dir), 4, 3)
        .orderBy("vec_id")),

    // pixel-spectra k-means with farthest-point seeding
    // (get_random_classes analog) — per-image cluster histogram
    "q_kmeans_pixels" -> ((s, dir) =>
      Algorithms.kmeansPixels(s, Synth.imagesWithBytes(s, dir, smallRaw), 4, 3)
        .orderBy("image_id", "cluster")),

    // BIT-REPRODUCIBLE pixel-spectra k-means: all valid pixels' integer
    // spectra, per-image-first seeds, truncated integer centroids —
    // oracle replays all rounds over regenerated pixels
    "q_kmeans_pixels_exact" -> ((s, dir) =>
      Algorithms.kmeansPixelsExact(s,
          Synth.imagesWithBytes(s, dir, smallRaw), 4, 3, Synth.NumBands)
        .orderBy("image_id", "cluster")),

    // pansharp_brovey through the TWO-TABLE join: MS payload ⋈ derived
    // 2× pan payload on image_id, per-pair sharpen kernel
    "q_pansharp" -> ((s, dir) => {
      val ms = Synth.imagesWithBytes(s, dir, smallRaw)
      val panGen = udf((k: Long, w: Int, h: Int) => {
        import graft.core.Codec
        val pw = w * 2; val ph = h * 2
        val base = 200 + (k * 3) % 800; val ax = k % 8; val ay = k % 8
        val p = Array.tabulate(pw * ph)(i =>
          (base + ax * (i % pw) + ay * (i / pw)).toDouble)
        Codec.encode(Array(p), pw, ph, "raw-i16le")
      })
      val pan = imgs(s, dir).where(col("w") <= 64 && col("h") <= 64 &&
          (col("k") % 6 === 1 || col("k") % 6 === 2))
        .withColumn("pan_bytes", panGen(col("k"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("pan_bytes"),
          (col("w") * 2).cast("int").as("pw"),
          (col("h") * 2).cast("int").as("ph"))
      ms.join(pan, Seq("image_id"))
        .withColumn("ps", Algorithms.pansharpAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          col("pan_bytes"), col("pw"), col("ph")))
        .select(col("image_id"), col("ps._1").as("n_valid"),
          col("ps._2").as("fsum"))
        .orderBy("image_id")
    }),

    "q_rxd" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("rx", Algorithms.rxdAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("rx._1").as("n_valid"),
          floor(col("rx._2") * 1e3).cast("long").as("rx_fsum"),
          floor(col("rx._3") * 1e6).cast("long").as("rx_fmax"))
        .orderBy("image_id")),

    // EXACT-INTEGER spectral scatter (spectral_covariance's gate):
    // per band pair, M_ab = n·ΣQ − S·S = n²·Cov — closed-form ramp
    // sums make every entry a pure integer the oracle re-derives
    "q_spectral_cov" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("sc", explode(Algorithms.scatterAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("sc._1").as("ba"),
          col("sc._2").as("bb"), col("sc._3").as("mval"))
        .orderBy("image_id", "ba", "bb")),

    // BIT-REPRODUCIBLE RX anomaly (exact-integer twin of q_rxd): 16
    // seeded sample pixels, bands 0-2, Mahalanobis as the exact ratio
    // yᵀ·adj(M)·y / det(M) over the ridged integer scatter matrix —
    // both big integers surface as decimal strings, so the DuckDB
    // oracle replays them digit-exactly (no float matrix inverse on
    // either side)
    "q_rxd_exact" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("rx", Algorithms.rxdExactAgg(col("k"), col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("rx._1").as("n_valid"),
          col("rx._2").as("rx_det"), col("rx._3").as("rx_num"))
        .orderBy("image_id")),

    "q_cloud_mask" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("cm", Algorithms.cloudMaskAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands),
          lit(45.0), lit(135.0), lit(450.0))) // sun geometry: se/sa/cloudheight
        .select(col("image_id"), col("cm._1").as("n_pass1"),
          col("cm._2").as("n_amb"), col("cm._3").as("n_cloud"),
          col("cm._4").as("n_final"))
        .orderBy("image_id")),

    // FAITHFUL thermal ACCA (reference constants, filters 1-7 +
    // percentile pass 2 + smear) on derived reflectance/LWIR planes —
    // rows-only (percentile interpolation + morphology multi-pass)
    "q_acca_thermal" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("at", Algorithms.accaThermalAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(45.0), lit(135.0), lit(0), lit(3),
          lit(450.0)))
        .select(col("image_id"), col("at._1").as("n_final"),
          col("at._2").as("n_cloud"), col("at._3").as("n_amb"),
          col("at._4").as("n_pass1"))
        .orderBy("image_id")),

    // Thermal ACCA on an INDEPENDENT synthesized LWIR band, shipped as
    // its own single-band file and band-stacked onto the reflectance
    // image via an equi-join on k — the reference's multi-file model
    // (GeoImage.h:60-74). The thermal pass now runs on data the
    // reflectance cascade never saw.
    "q_acca_thermal_lwir" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .join(Synth.lwirImages(s, dir, smallRaw)
                .select(col("k"), col("lwir_bytes")), Seq("k"))
        .withColumn("at", Algorithms.accaThermalLwirAgg(col("bytes"),
          col("lwir_bytes"), col("w").cast("int"), col("h").cast("int"),
          col("fmt"), lit(45.0), lit(135.0), lit(0), lit(3), lit(450.0)))
        .select(col("image_id"), col("at._1").as("n_final"),
          col("at._2").as("n_cloud"), col("at._3").as("n_amb"),
          col("at._4").as("n_pass1"))
        .orderBy("image_id")),

    "q_fmask" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("fm", Algorithms.fmaskAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(3), lit(3)))
        .select(col("image_id"), col("fm._1").as("n_final"),
          col("fm._2").as("n_cloud"), col("fm._3").as("n_pcp"),
          col("fm._4").as("n_water"), col("fm._5").as("n_land"))
        .orderBy("image_id")),

    // FAITHFUL thermal fmask (reference constants + BT percentiles) on
    // the same derived reflectance/LWIR planes as q_acca_thermal —
    // rows-only (percentiles + morphology)
    "q_fmask_thermal" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .withColumn("fm", Algorithms.fmaskThermalAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(3), lit(3)))
        .select(col("image_id"), col("fm._1").as("n_final"),
          col("fm._2").as("n_cloud"), col("fm._3").as("n_pcp"),
          col("fm._4").as("n_water"), col("fm._5").as("n_land"))
        .orderBy("image_id")),

    // Thermal fmask with BT from the INDEPENDENT LWIR band file (same
    // multi-file stack as q_acca_thermal_lwir)
    "q_fmask_thermal_lwir" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .join(Synth.lwirImages(s, dir, smallRaw)
                .select(col("k"), col("lwir_bytes")), Seq("k"))
        .withColumn("fm", Algorithms.fmaskThermalLwirAgg(col("bytes"),
          col("lwir_bytes"), col("w").cast("int"), col("h").cast("int"),
          col("fmt"), lit(3), lit(3)))
        .select(col("image_id"), col("fm._1").as("n_final"),
          col("fm._2").as("n_cloud"), col("fm._3").as("n_pcp"),
          col("fm._4").as("n_water"), col("fm._5").as("n_land"))
        .orderBy("image_id")),

    // ---- text pipeline (documents) ----
    "q_doc_tokens" -> ((s, dir) =>
      graft.text.TextOps.tokenStats(docs(s, dir)).orderBy("doc_id")),
    "q_doc_quality" -> ((s, dir) =>
      graft.text.TextOps.quality(docs(s, dir)).orderBy("doc_id")),
    "q_doc_subwords" -> ((s, dir) =>
      graft.text.TextOps.subwordStats(docs(s, dir)).orderBy("doc_id")),
    // Gopher-style repetition filters (dup words, top 2-/3-gram mass)
    "q_doc_repetition" -> ((s, dir) =>
      graft.text.TextOps.repetitionStats(docs(s, dir)).orderBy("doc_id")),
    "q_doc_langid" -> ((s, dir) =>
      graft.text.TextOps.langId(docs(s, dir)).orderBy("doc_id")),
    "q_doc_fingerprint" -> ((s, dir) =>
      graft.text.TextOps.fingerprint(docs(s, dir)).orderBy("doc_id")),
    // PII/URL scrub over PII-augmented docs (every 3rd doc gains an
    // email + URL token — derived identically in SQL): redacted-text
    // md5 + redaction counts, LIKE-only matching so both engines agree
    "q_doc_scrub" -> ((s, dir) =>
      graft.text.TextOps.scrub(docs(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"),
              lit(" mail bob@example.com or www.example.org now")))
          .otherwise(col("text"))))
        .select(col("doc_id"), md5(col("scrubbed")).as("scrub_h"),
          col("n_redacted"))
        .orderBy("doc_id")),

    "q_dedup_exact" -> ((s, dir) =>
      graft.text.TextOps.dedupExact(docs(s, dir)).orderBy("h")),
    // IMAGE-level exact dedup: hash-groupBy on the perceptual hash —
    // the image twin of q_dedup_exact (same plan shape: uniform hash
    // key shuffle, one row per group); value-exact because the oracle
    // re-derives every phash bit
    "q_dedup_images" -> ((s, dir) =>
      Synth.imagesWithBytes(s, dir, smallRaw)
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("cnt"), min(col("image_id")).as("min_image_id"))
        .orderBy("phash")),
    "q_dedup_norm" -> ((s, dir) =>
      graft.text.TextOps.dedupNormalized(docs(s, dir)).orderBy("h")),

    // exact duplicate-substring spans (Lee et al. 2022 suffix-dedup
    // semantics, distributed seed-gram form): L=4 token windows,
    // corpus frequency >= 2, gaps-and-islands maximal-span merge
    "q_dup_spans" -> ((s, dir) =>
      graft.text.TextOps.dupSpans(docs(s, dir), 4)
        .orderBy("doc_id", "span_id")),

    // duplicate-span EXCISION (keep the corpus-first occurrence,
    // rebuild every doc's text from the surviving tokens)
    "q_dup_scrub" -> ((s, dir) =>
      graft.text.TextOps.dupSpanScrub(docs(s, dir), 4)
        .orderBy("doc_id")),

    // winnowing fingerprints (SIGMOD 2003): k=3 grams, window w=4,
    // rightmost-min selection, deduplicated
    "q_winnow" -> ((s, dir) =>
      graft.text.TextOps.winnow(docs(s, dir), 3, 4)
        .orderBy("doc_id", "pos")),
    "q_minhash_sig" -> ((s, dir) =>
      graft.text.TextOps.minhash(docs(s, dir), 4).orderBy("doc_id")),
    "q_minhash_bands" -> ((s, dir) =>
      graft.text.TextOps.minhashBands(docs(s, dir)).orderBy("band")),

    "q_jaccard_pairs" -> ((s, dir) =>
      graft.text.TextOps.jaccardPairs(
          docs(s, dir).where(col("doc_id") < 100), 0.01)
        .orderBy("id_a", "id_b")),

    // Broder containment (asymmetric near-dup: embedded copies):
    // both directions as exact scaled integers, keep when the larger
    // direction ≥ 1% — the verification metric for length-skewed
    // pairs that Jaccard dilutes
    "q_containment" -> ((s, dir) =>
      graft.text.TextOps.containmentPairs(
          docs(s, dir).where(col("doc_id") < 100), 10000L)
        .orderBy("id_a", "id_b")),

    // corpus-scale near-dup: MinHash-band candidates + exact verify —
    // UNBOUNDED input (whole documents table), no cross join in the plan
    "q_jaccard_lsh" -> ((s, dir) =>
      graft.text.TextOps.jaccardPairsLsh(docs(s, dir), 0.01)
        .orderBy("id_a", "id_b")),

    // vocabulary induction: top-50 terms by collection frequency
    // (deterministic term tie-break — the BPE-trainer input table)
    "q_vocab" -> ((s, dir) =>
      graft.text.TextOps.vocab(docs(s, dir), 50)),

    // temperature-balanced mixture sampling (data mixing): per-lang
    // quota = min(cnt, floor(8·sqrt(cnt))) — keeps small domains
    // whole, downsamples dominant ones; md5-ranked deterministic draw
    "q_mix_balance" -> ((s, dir) =>
      graft.text.TextOps.mixBalance(docs(s, dir), 8)
        .orderBy("doc_id")),

    // exact-count mixture resampling (domain recipe): per-lang copy
    // counts summing EXACTLY to the target — integer full copies +
    // md5-ranked extras; en downsamples (218→100), zh upsamples
    // (75→150, 2 copies each), de mixes (70→100: 1 + 30 extras)
    "q_mix_resample" -> ((s, dir) =>
      graft.text.TextOps.mixResample(docs(s, dir),
          Seq("en" -> 100L, "zh" -> 150L, "de" -> 100L,
              "es" -> 73L, "fr" -> 40L))
        .orderBy("doc_id")),

    // BPE merge TRAINING (tokenizer induction): 4 merge rounds on the
    // word-frequency table — corpus touched once, each round is a
    // vocab-sized pair aggregate + 1-row argmax collect + literal
    // replace (delimited-symbol strings make greedy merge == string
    // replace, identically in Spark and DuckDB)
    "q_bpe_merges" -> ((s, dir) =>
      graft.text.TextOps.bpeTrain(docs(s, dir), 4)._1
        .orderBy("round")),

    // BPE ENCODE (the tokenizer's apply half): per-doc word and
    // post-merge token counts under the 4 trained merges
    "q_bpe_encode" -> ((s, dir) =>
      graft.text.TextOps.bpeEncodeStats(docs(s, dir), 4)
        .orderBy("doc_id")),

    // deterministic weighted top-40 sample (A-ES shape, rational
    // priority h/w — one IEEE division, engine-identical)
    "q_doc_wsample" -> ((s, dir) =>
      graft.text.TextOps.sampleWeighted(docs(s, dir),
        size(graft.text.TextOps.toks), 40)),

    // BM25 top-10 retrieval for the 3 highest-df query terms —
    // exact-rational scores (no float in the ranking key derivation)
    "q_bm25" -> ((s, dir) =>
      graft.text.TextOps.bm25(docs(s, dir), 3, 10)
        .orderBy("term", "rank")),

    // HLL distinct-count sketch over the token stream: the register
    // table is engine-portable (md5 bucket + leading-zero rho), pinned
    // by three exact-integer aggregates next to the true distinct
    "q_hll_distinct" -> ((s, dir) => {
      import graft.sketch.Hll
      val terms = docs(s, dir)
        .select(explode(graft.text.TextOps.toks).as("term"))
      Hll.summary(Hll.sketch(terms, col("term")))
        .crossJoin(terms.agg(
          countDistinct(col("term")).cast("long").as("exact_distinct")))
    }),

    // bigram count table (language-model counts), top-50
    "q_ngrams" -> ((s, dir) =>
      graft.text.TextOps.ngramCounts(docs(s, dir), 2, 50)),

    // collocation mining: top-40 bigrams by exact scaled-integer PMI
    // (c12 ≥ 3) — rare-pair filter before the unigram joins, token
    // total broadcast, ranking never touches a float
    "q_pmi" -> ((s, dir) =>
      graft.text.TextOps.pmiBigrams(docs(s, dir), 3, 40)),

    // tf-idf pair similarity over the df ≤ 20%·N-pruned vector space:
    // integer weights tf·((N·10) div df), squared-cosine score as one
    // exact scaled integer (BigInt for the dot² step); candidates from
    // the pruned posting self-join — work Σ df², never all-pairs
    "q_tfidf_sim" -> ((s, dir) =>
      graft.text.TextOps.tfidfSimPairs(docs(s, dir), 200L, 30)),

    // decision-stump training (exact-Gini split search on n_chars//64
    // predicting lang='en'): per-threshold split counts + weighted-
    // Gini cost as one scaled integer; the window runs over the
    // threshold HISTOGRAM, never the corpus
    "q_stump" -> ((s, dir) =>
      graft.text.TextOps.giniStump(docs(s, dir), col("n_chars"),
        col("lang") === "en", 64L)),

    // dictionary encoding (tokenizer apply): top-40 vocab ids, OOV→0,
    // per-doc position-weighted id checksum — the id sequence checked
    // without materializing it; vocab broadcast to the encode join
    "q_encode_ids" -> ((s, dir) =>
      graft.text.TextOps.encodeIds(docs(s, dir), 40)
        .orderBy("doc_id")),

    // deterministic 10% val split: content-independent md5 bucket —
    // stable under reshuffles, exactly reproducible in SQL
    // keyword extraction: per-doc top-3 terms (tf desc, df asc, term
    // asc — the log-free tf-idf ordering; pure integers/lexicographic)
    "q_doc_keywords" -> ((s, dir) =>
      graft.text.TextOps.keywords(docs(s, dir), 3)
        .orderBy("doc_id", "rank")),

    "q_doc_split" -> ((s, dir) =>
      graft.text.TextOps.splitAssign(docs(s, dir), valPermille = 100)
        .orderBy("doc_id")),

    // deterministic stratified sampling (training-data mixing): keep
    // 500‰ en / 100‰ de / 250‰ es / 1000‰ fr, drop unlisted zh; the
    // md5(doc_id:salt) draw is content-independent and reshuffle-stable
    "q_doc_sample" -> ((s, dir) =>
      graft.text.TextOps.sampleStratified(docs(s, dir),
          Seq("en" -> 500, "de" -> 100, "es" -> 250, "fr" -> 1000), "r4")
        .select("doc_id", "lang").orderBy("doc_id")),

    // concat-and-chunk sequence packing: 256-token budget, 8 shards;
    // per-doc token interval + first/last packed-sequence ids
    "q_pack_sequences" -> ((s, dir) =>
      graft.text.TextOps.packSequences(docs(s, dir), 256, 8)
        .orderBy("doc_id")),

    // data validation ("expectations"): per-rule violation counts
    // over a deterministically corrupted corpus (every doc_id%50==0
    // doc re-appears with n_chars+1 and lang 'xx' → known non-zero
    // counts for three of the four rules)
    "q_validate" -> ((s, dir) => {
      val d = docs(s, dir)
      val mut = d.where(col("doc_id") % 50 === 0)
        .withColumn("n_chars", col("n_chars") + 1)
        .withColumn("lang", lit("xx"))
      graft.text.TextOps.validate(d.unionByName(mut),
          Seq("en", "de", "es", "fr", "zh"))
        .orderBy("rule")
    }),

    // incremental near-dup: the doc_id%10==7 DELTA batch verified
    // against the rest-of-corpus — band collisions only ever pair
    // delta×corpus (per-batch cost scales with the delta)
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.jaccardPairsIncremental(
          d.where(col("doc_id") % 10 =!= 7),
          d.where(col("doc_id") % 10 === 7), 0.01)
        .orderBy("id_new", "id_old")
    }),

    // train/test decontamination: corpus docs sharing ≥2 distinct
    // 3-grams with the benchmark subset (doc_id % 17 == 0); benchmark
    // grams broadcast, corpus streams — no corpus-wide shuffle
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.decontaminate(
          d, d.where(col("doc_id") % 17 === 0), n = 3, minHits = 2)
        .orderBy("doc_id", "bench_id")
    }),

    // ROUGE-L sequence overlap vs a broadcast reference (Lin 2004):
    // LCS over the first-24-token window — the sequence-aware
    // decontamination twin; per-doc O(n·m) DP, no shuffle (oracle:
    // monotone max-plus scatter recursive CTE, n+m-round fixpoint)
    "q_rouge_lcs" -> ((s, dir) =>
      docs(s, dir).where(col("doc_id") < 100)
        .withColumn("tk", slice(split(col("text"), " "), 1, 24))
        .withColumn("r", graft.text.TextOps.rougeLcsAgg(col("tk"),
          array(RougeRef.map(lit(_)): _*)))
        .select(col("doc_id"), col("r._1").as("n_toks"),
          col("r._2").as("lcs"))
        .orderBy("doc_id")),

    // deterministic epoch shuffle: reproducible per-epoch (shard, pos)
    // training order, sharded row_number (no global sort)
    "q_epoch_shuffle" -> ((s, dir) =>
      graft.text.TextOps.epochShuffle(docs(s, dir), epoch = 2, nShards = 4)
        .orderBy("doc_id")),

    // end-to-end curation: langid → integer quality bounds → LSH
    // near-dup canonical → decontamination → stratified sample, one
    // row per doc with a 0/1 flag per stage + the final keep product
    "q_curate" -> ((s, dir) =>
      graft.text.TextOps.curate(docs(s, dir),
          Seq("en" -> 600, "de" -> 400, "es" -> 500,
              "fr" -> 700, "zh" -> 300), "cur")
        .orderBy("doc_id")),

    // dedup CLUSTERING: connected components (large-star/small-star)
    // over the LSH near-dup pairs — one row per doc, cluster = the
    // component min; the keep-one-per-cluster step of a 10¹²-row
    // dedup pipeline (oracle: DuckDB recursive-CTE reachability)
    "q_dedup_clusters" -> ((s, dir) =>
      graft.graph.ConnectedComponents.dedupClusters(docs(s, dir), 0.01)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")),

    "q_simhash" -> ((s, dir) =>
      graft.text.TextOps.simhash(docs(s, dir)).orderBy("doc_id")),

    // ---- embeddings ----
    "q_ann_cosine_topk" -> ((s, dir) =>
      graft.vec.VectorOps.cosineTopK(emb(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank")),
    "q_emb_neardup" -> ((s, dir) => {
      val e = emb(s, dir).where(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("sim", graft.vec.VectorOps.cosine(col("ea"), col("eb")))
        .where(col("sim") > 0.35)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // corpus-scale embedding near-dup: LSH bucket-collision candidates
    // (16 tables × 4-bit SRP — tables buy recall, nb bounds bucket
    // size) + exact cosine verify — UNBOUNDED input (whole embeddings
    // table), no cross join in the plan. nb=4 suits this oracle-bounded
    // corpus; real corpora size nb via VectorOps.nbForCorpus (≈30 at
    // 10¹² rows) and the DuckDB oracle re-derives the same buckets
    "q_emb_neardup_lsh" -> ((s, dir) =>
      graft.vec.VectorOps.embNearDupLsh(emb(s, dir), 64, 0.35,
          nb = 4, tables = 16)
        .orderBy("id_a", "id_b")),

    // edit-distance near-dup join (PassJoin segment prefilter +
    // exact levenshtein verify, k=2) over 32-char doc titles plus a
    // planted single-char mutation per doc_id%5==0 — the oracle is
    // the all-pairs levenshtein join, so it checks the prefilter's
    // COMPLETENESS, not just soundness
    "q_edit_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 500)
      val base = docs.selectExpr("CAST(doc_id AS LONG) AS id",
        "substr(text, 1, 32) AS t")
      val mut = docs.where(col("doc_id") % 5 === 0)
        .selectExpr("CAST(doc_id + 1000000 AS LONG) AS id",
          "concat(substr(substr(text,1,32), 1, CAST(doc_id % 32 AS INT)), " +
          "'q', substr(substr(text,1,32), CAST(doc_id % 32 AS INT) + 2, " +
          "31 - CAST(doc_id % 32 AS INT))) AS t")
      graft.text.TextOps.editNearDupPairs(base.unionAll(mut), 2)
        .orderBy("id_a", "id_b")
    }),

    // embedding near-dup CLUSTERS: the same large-star/small-star
    // components over the LSH-verified cosine edges — keep-one-per-
    // cluster for embedding-level dedup (recursive-CTE oracle)
    "q_emb_clusters" -> ((s, dir) =>
      graft.graph.ConnectedComponents.components(
          emb(s, dir).select("vec_id"),
          graft.vec.VectorOps.embNearDupLsh(emb(s, dir), 64, 0.35,
            nb = 4, tables = 16))
        .select(col("id").as("vec_id"), col("comp").as("cluster_id"))
        .orderBy("vec_id")),

    // SemDeDup (Abbas et al. 2023): exact-integer k-means clustering +
    // within-cluster cosine near-dup pruning, keep-lowest-id. The
    // oracle replays the Lloyd rounds (q_kmeans_exact pattern) and the
    // bit-identical double cosine, then the same anti-join — the whole
    // composed pipeline is value-exact
    "q_semdedup" -> ((s, dir) =>
      graft.vec.VectorOps.semDeDup(s,
          emb(s, dir).where(col("vec_id") < 200), 4, 3, 0.35)
        .orderBy("vec_id")),

    // SemDeDup at CORPUS scale: same clustering + keep rule, but the
    // within-cluster pairing comes from the LSH candidate path (16
    // SRP tables; cluster equality is one more equi-key) — no cross
    // join anywhere; the oracle replays the buckets bit-exactly
    "q_semdedup_lsh" -> ((s, dir) =>
      graft.vec.VectorOps.semDeDup(s, emb(s, dir), 4, 3, 0.35,
          exactPairs = false, nb = 4)
        .orderBy("vec_id")),

    // LSH-bucketed ANN top-k (recall@10 = 0.84 vs brute force, measured
    // in LshSpec on honestly-decorrelated planes)
    "q_ann_lsh_topk" -> ((s, dir) =>
      graft.vec.VectorOps.lshTopK(emb(s, dir), 64, col("vec_id") < 3, 10,
          nb = 4, tables = 16)
        .orderBy("qid", "rank")),

    // IVF ANN top-k: 16 fixed-centroid cells, 4 probed per query,
    // exact re-rank inside probed cells (recall vs brute in LshSpec)
    "q_ann_ivf_topk" -> ((s, dir) =>
      graft.vec.VectorOps.ivfTopK(emb(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank")),

    // PERSISTED IVF index: build once (resumable Lineage tables,
    // postings hash-bucketed by cell), probe via bucket-pruned reads —
    // must return exactly the direct-path rows (shared oracle)
    "q_ann_index" -> ((s, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_ivf_v1_${math.abs(dir.hashCode)}"
      graft.vec.VectorOps.buildIvfIndex(s, emb(s, dir), root)
      graft.vec.VectorOps.probeIvfIndex(s, root,
        emb(s, dir).where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), 10)
        .orderBy("qid", "rank")
    }),

    // PQ ANN top-k by ADC (8 subspaces × 16 sub-centroids, fixed-id
    // codebook, exact-integer distances — the oracle replays encode +
    // the full ADC table in SQL; recall vs brute in LshSpec)
    "q_ann_pq_topk" -> ((s, dir) =>
      graft.vec.VectorOps.pqTopK(emb(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank")),

    // IVF-PQ composed ANN: IVF cells prune (sub-linear probe), PQ ADC
    // scores survivors on compressed codes — candidates never rejoin
    // the embedding column (the 10^12-row architecture; nprobe=kc ==
    // pqTopK asserted in LshSpec)
    "q_ann_ivfpq_topk" -> ((s, dir) =>
      graft.vec.VectorOps.ivfPqTopK(emb(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank")),

    // PQ encode digest: subspace-0 centroid id + position-weighted sum
    // of all 8 code centroid ids per vector (codes mapped back to the
    // source vec_ids of the fixed-id codebook so the oracle's labels
    // and Spark's positional indices can't silently diverge)
    "q_pq_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      // one bounded collect feeds both the codebook and the label map
      val (cbIds, cbRows) = graft.vec.VectorOps.lowestRows(e, 16)
      val cb = graft.vec.VectorOps.pqCodebookFromRows(cbRows, 64, 8, 16)
      val cids = transform(col("codes"),
        c => element_at(lit(cbIds), c.cast("int") + lit(1)))
      graft.vec.VectorOps.pqCodes(e, cb, 8, 16)
        .select(col("vec_id"),
          element_at(cids, 1).as("code0"),
          aggregate(
            zip_with(cids,
              transform(sequence(lit(1), lit(8)), x => x.cast("long")),
              (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("csum"))
        .orderBy("vec_id")
    }),

    "q_vec_label_stats" -> ((s, dir) =>
      graft.vec.VectorOps.labelNormStats(emb(s, dir)).orderBy("label")),

    // int8 embedding quantization (4× ANN-index shrink): per-vector
    // scale + exact-integer element digests
    "q_quantize_int8" -> ((s, dir) =>
      graft.vec.VectorOps.quantizeInt8(emb(s, dir))
        .select(col("vec_id"),
          floor(col("scale") * 1e6).cast("long").as("scale_fl"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
          array_min(col("q")).cast("long").as("qmin"),
          array_max(col("q")).cast("long").as("qmax"))
        .orderBy("vec_id")),

    // ---- events (window / sessionization) ----
    "q_events_top" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id")
    }),

    // 2-D skyline (Pareto frontier) of users over (event count,
    // Σ⌊100·value⌋), maximize both — per-d1 max collapse + strict-
    // prefix-max frontier broadcast, never the all-pairs dominance
    // join the oracle replays
    "q_skyline" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val pts = ev.groupBy("user_id").agg(
        count(lit(1)).cast("long").as("n_events"),
        sum(floor(col("value") * 100).cast("long")).cast("long").as("vsum"))
      graft.ops.Relational.skyline2d(pts).orderBy("user_id")
    }),

    // robust per-type outlier census: exact integer median/MAD over
    // the ⌊100·value⌋ histogram (order statistics over the VALUE
    // DOMAIN, never a per-group row sort), rule |x−med| > 3·MAD in
    // doubled/quadrupled integers
    "q_mad_outliers" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.ops.Relational.madOutliers(
          ev.select(col("event_type"),
            floor(col("value") * 100).cast("long").as("vc")))
        .orderBy("event_type")
    }),
    "q_events_sessions" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      ev.withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("flag",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("flag")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // as-of join: every click attributed to the user's most recent
    // prior-or-equal view (single window pass, no join — ops.TimeJoins)
    // funnel: view → click → purchase with a 1-day per-step gap;
    // greedy-earliest matching (optimal under per-step gaps)
    "q_events_funnel" -> ((s, dir) =>
      graft.ops.TimeJoins.funnel(s.read.parquet(s"$dir/events.parquet"),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), 86400000000L)
        .orderBy("user_id")),

    // cohort retention matrix: cohort = first-activity day per user,
    // distinct active users per (cohort, day offset) — exact integer
    // day math on UTC-pinned dates
    "q_events_cohorts" -> ((s, dir) =>
      graft.ops.TimeJoins.cohortRetention(
          s.read.parquet(s"$dir/events.parquet"), "user_id", "ts")
        .select(col("cohort").cast("string").as("cohort"),
          col("day_offset"), col("users"))
        .orderBy("cohort", "day_offset")),

    "q_events_asof" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      // collapse equal-(user, ts) rights to max id: makes the as-of
      // target unique, mirroring the oracle's pre-aggregation
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      val clicks = ev.where(col("event_type") === "click")
      graft.ops.TimeJoins.asofJoin(clicks, views, "user_id", "ts",
          "event_id", "view_id")
        .select(col("l_id").as("click_id"), col("user_id"),
          col("asof_id").as("view_id"))
        .orderBy("click_id")
    }),

    // bounded range join: errors within 1 h AFTER a click, same user
    // (1-D covering-bucket equi-join — the time analog of the spatial
    // covering-cell join; no cross join, no distinct)
    "q_events_range" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.ops.TimeJoins.rangeJoin(
          ev.where(col("event_type") === "click"),
          ev.where(col("event_type") === "error"),
          "user_id", "ts", "event_id", "event_id", maxGapSec = 3600L)
        .select(col("l_id").as("click_id"), col("r_id").as("err_id"))
        .orderBy("click_id", "err_id")
    }),

    // ---- relational baseline (lineitem/orders) ----
    "q_tpch_pricing" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(floor(col("l_extendedprice")).cast("long")).as("sum_price_fl"),
          avg(col("l_quantity")).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_tpch_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // ---- detection-box post-processing (Boxes.scala) ----

    // greedy IoU>1/2 non-maximum suppression over 12 md5-derived
    // candidate boxes per image: per-image O(n²) kernel, one hash
    // shuffle on image_id. Oracle replays the greedy scan as a
    // suppression-bitmask recursive CTE.
    "q_nms" -> ((s, dir) =>
      graft.ops.Boxes.nms(synthBoxes(s, dir, 12, ""), "image_id")
        .orderBy("image_id", "box_id")),

    // greedy detection matching (COCO-style single-threshold TP/FP/FN):
    // 12 scored predictions vs 6 ground-truth boxes per image; each
    // prediction in score order claims the unclaimed gt with the
    // highest quantized IoU (> 0.5). Same per-image-kernel shape.
    "q_box_match" -> ((s, dir) => {
      val ps = synthBoxes(s, dir, 12, "").groupBy("image_id")
        .agg(collect_list(struct(col("box_id"), col("x1"), col("y1"),
          col("x2"), col("y2"), col("score"))).as("ps"))
      val gs = synthBoxes(s, dir, 6, "g").groupBy("image_id")
        .agg(collect_list(struct(col("box_id"), col("x1"), col("y1"),
          col("x2"), col("y2"))).as("gs"))
      ps.join(gs, Seq("image_id"))
        .withColumn("m", graft.ops.Boxes.matchAgg(col("ps"), col("gs"),
          lit(524288L)))
        .select(col("image_id"), col("m._1").as("n_pred"),
          col("m._2").as("tp"), col("m._3").as("fp"),
          col("m._4").as("fn"), col("m._5").as("qiou_sum"))
        .orderBy("image_id")
    }),

    // multi-object IoU tracklet linking over 4-frame video sequences
    // (IoU-tracker association, mutual-best rule): consecutive-frame
    // detections link iff quantized IoU > 0.5 and each is the other's
    // argmax; every detection is labeled with its track origin.
    // Fully relational — one frame→frame+1 self-join + two windows +
    // a 3-step pointer walk, all keyed on the video id.
    "q_track_iou" -> ((s, dir) =>
      graft.ops.Boxes.iouTracks(
          synthTrackDets(s, dir).withColumnRenamed("image_id", "vid"),
          maxFrame = 4)
        .withColumnRenamed("vid", "image_id")
        .orderBy("image_id", "f", "box_id")),

    // two-level integer Haar (S-transform) subband energies: oriented
    // H/V/D detail split per level — the frequency-domain texture
    // counterpart of q_lap_pyramid's isotropic residual
    "q_haar" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("hr", graft.ops.Vision.haarAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("hr._1").as("n_ll2"),
          col("hr._2").as("h1_abs"), col("hr._3").as("v1_abs"),
          col("hr._4").as("d1_abs"), col("hr._5").as("h2_abs"),
          col("hr._6").as("v2_abs"), col("hr._7").as("d2_abs"),
          col("hr._8").as("ll2_sum"))
        .orderBy("image_id")),

    // image↔caption alignment (CLIP-score-shaped) filter: integer dot
    // of the 64-d block-mean image embedding with a 64-bucket hashed
    // bag-of-words caption embedding; keep = score ≥ corpus mean
    // (division-free). Per-row map + one scalar agg — zero sorts.
    "q_clipscore" -> ((s, dir) =>
      graft.vec.VectorOps.clipScores(
        Synth.imagesWithBytes(s, dir, smallRaw)).orderBy("image_id")),

    // vector→raster burn (GDAL RasterizeLayer parity): per-feature
    // bbox cell enumeration + center PIP + MAX(fid) overlay; oracle
    // replays the L-ring as its exact 2-rect decomposition
    "q_rasterize" -> ((s, dir) =>
      graft.ops.SpatialJoin.rasterizeBurn(Synth.polygonsL(s, dir), 1000L)
        .orderBy("fid")),

    // edge-preserving ε-filter (hard-range bilateral, t=200): floor-
    // mean of the 3×3 neighbors within t of the center, exact integers
    "q_epsilon_filter" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("ef", graft.ops.Vision.epsilonFilterAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(200L)))
        .select(col("image_id"), col("ef._1").as("n_px"),
          col("ef._2").as("out_sum"), col("ef._3").as("changed"),
          col("ef._4").as("max_dev"))
        .orderBy("image_id")),

    // blur/focus curation gate: variance of the discrete Laplacian
    // (Pech-Pacheco ICPR 2000) as the exact scaled form n·ΣL²−(ΣL)²,
    // sharp iff score > τ·n² — the standard sharpness filter of an
    // image-curation pipeline, one decode per image
    "q_blur_filter" -> ((s, dir) =>
      Synth.demImages(s, dir, smallRaw)
        .withColumn("bf", graft.ops.Vision.blurScoreAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(1600000L)))
        .select(col("image_id"), col("bf._1").as("n_int"),
          col("bf._2").as("lap_sum"), col("bf._3").as("lap_sq_sum"),
          col("bf._4").as("score"), col("bf._5").as("sharp"))
        .orderBy("image_id")),

    // bigram-DF coverage (integer LM-perplexity proxy for quality
    // filtering): per-doc attested-bigram fraction, 2^-20 quantized
    "q_lm_coverage" -> ((s, dir) =>
      graft.text.TextOps.lmCoverage(docs(s, dir)).orderBy("doc_id")),

    // cross-image near-dup TILE groups (shared logo/watermark/crop
    // detection): brightness-invariant 16×16 patch signatures
    // (Σ(v−v0)·li), grouped corpus-wide, kept where ≥2 distinct
    // images share a signature — sub-image dedup, the crop-level
    // counterpart of q_dedup_images
    "q_tile_neardup" -> ((s, dir) => {
      val pat = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        graft.ops.Augment.patchSig(p, w, h, 16)
      })
      Synth.imagesWithBytes(s, dir, smallRaw)
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
    }),

    // ANN quality evaluation: recall@10 of the IVF index against the
    // brute-force cosine ground truth (the index-tuning measurement
    // every ANN deployment runs); both sides are existing gates, the
    // eval is their key-join overlap per query
    "q_ann_recall" -> ((s, dir) => {
      val brute = graft.vec.VectorOps
        .cosineTopK(emb(s, dir), col("vec_id") < 3, 10)
        .select(col("qid"), col("vec_id"))
      val ivf = graft.vec.VectorOps
        .ivfTopK(emb(s, dir), col("vec_id") < 3, 10)
        .select(col("qid").as("qid2"), col("vec_id").as("vid2"))
      brute.join(ivf, col("qid") === col("qid2") &&
          col("vec_id") === col("vid2"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"), count(col("vid2")).as("n_common"))
        .withColumn("recall_q",
          graft.ops.Tiling.idiv(col("n_common") * 1048576L, col("k")))
        .orderBy("qid")
    }),

    // bounded-hop multi-source shortest paths (6-round Bellman-Ford
    // isochrone) over the proximity graph, centroid-Manhattan edge
    // weights: per round one edge⋈dist join + one MIN aggregate
    "q_sssp" -> ((s, dir) => {
      val im = Synth.images(s, dir)
      // centroid-Manhattan weights straight off the pair row (the
      // ±pad corner sums cancel exactly) — no footprint re-attach
      val ew = graft.ops.SpatialJoin.proximityEdgesCoords(im, 3000L)
        .withColumn("w", abs(col("sxa") - col("sxb")) +
          abs(col("sya") - col("syb")))
      val edges = ew.select(col("ka").as("src"), col("kb").as("dst"),
          col("w"))
        .unionAll(ew.select(col("kb").as("src"), col("ka").as("dst"),
          col("w")))
      val sources = im.where(col("k") % 31 === 0).select(col("k").as("v"))
      graft.graph.ShortestPaths.boundedSssp(edges, sources, 6)
        .orderBy("v")
    })
  )

  /** Deterministic md5-derived detection-box fixture: `n` boxes per
    * image (k < 400) with corners in [0,4096)+[256,4608) and integer
    * scores in [0,4096); `salt` separates prediction/ground-truth
    * sets. Mirrored verbatim by the BoxCte oracle SQL. */
  private def synthBoxes(s: SparkSession, dir: String, n: Int,
                         salt: String): DataFrame = {
    import graft.sketch.Cms.hexVal
    val hm = md5(concat(col("image_id"), lit(s":$salt"),
      col("i").cast("string")))
    def hv(p: Int) = hexVal(hm, p).cast("long")
    Synth.images(s, dir).where(col("k") < 400)
      .select(col("image_id"),
        explode(sequence(lit(0), lit(n - 1))).as("i"))
      .withColumn("box_id", col("i").cast("long"))
      .withColumn("x1", hv(1) * 256 + hv(2) * 16 + hv(3))
      .withColumn("y1", hv(4) * 256 + hv(5) * 16 + hv(6))
      .withColumn("x2", col("x1") + lit(256L) + hv(7) * 256 + hv(8) * 16
        + hv(9))
      .withColumn("y2", col("y1") + lit(256L) + hv(10) * 256 + hv(11) * 16
        + hv(12))
      .withColumn("score", hv(13) * 256 + hv(14) * 16 + hv(15))
      .select("image_id", "box_id", "x1", "y1", "x2", "y2", "score")
  }

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

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Pixel-exact query class: small (≤64×64) images in exact codecs. */
  private val smallRaw: DataFrame => DataFrame =
    _.where(col("w") <= 64 && col("h") <= 64 &&
            (col("k") % 6 === 1 || col("k") % 6 === 2))

  // ---- DuckDB oracle SQL ----
  private val I = OracleCte.images
  private val P = OracleCte.polygons
  private val B = OracleCte.bandParams

  private val joinCte =
    s"""j AS (
       |  SELECT i.image_id, p.fid, i.x0m, i.y0m, i.x1m, i.y1m,
       |         p.px0m, p.py0m, p.px1m, p.py1m,
       |         (LEAST(i.x1m,p.px1m) - GREATEST(i.x0m,p.px0m)) *
       |         (LEAST(i.y1m,p.py1m) - GREATEST(i.y0m,p.py0m)) AS overlap_area
       |  FROM img2 i JOIN poly2 p
       |    ON i.x0m < p.px1m AND p.px0m < i.x1m
       |   AND i.y0m < p.py1m AND p.py0m < i.y1m)""".stripMargin

  /** THERMAL FMASK ground truth (multi-pass SQL replay; see the
    * q_fmask_thermal registry comment). `tempB` as in
    * [[accaThermalOracle]]: 5 = swir2 proxy, 6 = independent LWIR. */
  private def fmaskThermalOracle(tempB: Int): String = {
    val gbl = if (tempB == 6) "0,1,2,3,4,5,6" else "0,1,2,3,4,5"

      def pctCte(name: String, src: String, pcts: Seq[Double]): String = {
        val pl = pcts.mkString(", ")
        s"""${name}mm AS (SELECT k, COUNT(mv) AS cnt, MIN(mv) AS mn,
           |    MAX(mv) AS mx FROM $src GROUP BY k),
           |${name}hb AS (SELECT s.k,
           |    LEAST(99, CAST(FLOOR((s.mv - m.mn)/((m.mx - m.mn)/100.0))
           |      AS BIGINT)) AS bin,
           |    COUNT(*) AS cnt
           |  FROM $src s JOIN ${name}mm m ON m.k = s.k
           |  WHERE s.mv IS NOT NULL AND m.mx <> m.mn GROUP BY 1, 2),
           |${name}cu AS (SELECT k, bin, cnt,
           |    SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum
           |  FROM ${name}hb),
           |${name}tg AS (SELECT m.k, p.pct, p.pct/100.0*m.cnt AS target,
           |    m.mn, m.mx, m.cnt AS n
           |  FROM ${name}mm m, (SELECT unnest([$pl]) AS pct) p),
           |${name}sel AS (SELECT t.k, t.pct,
           |    CASE WHEN t.n = 0 THEN NULL
           |         WHEN t.mx = t.mn THEN t.mn
           |         ELSE t.mn + (t.mx - t.mn)/100.0 *
           |              (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
           |    END AS res
           |  FROM ${name}tg t LEFT JOIN ${name}cu c ON c.k = t.k
           |    AND c.cum >= t.target AND c.cum - c.cnt < t.target)""".stripMargin
      }
      s"""WITH $I, $SimgCte,
         |gb AS (SELECT unnest([$gbl]) AS b),
         |gbp AS (SELECT s.k, CAST(t.b AS BIGINT) AS b,
         |         200 + (s.k*(t.b+3)) % 800 AS base,
         |         (s.k + 11*t.b) % 8 AS ax, (s.k + 17*t.b) % 8 AS ay
         |       FROM simg s CROSS JOIN gb t),
         |gpx AS (SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s JOIN gbp p ON p.k = s.k
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw),
         |gsp AS (SELECT k, x, y,
         |    CAST(MAX(CASE WHEN b=0 THEN v END) AS DOUBLE)/4000.0 AS bb,
         |    CAST(MAX(CASE WHEN b=1 THEN v END) AS DOUBLE)/4000.0 AS gg,
         |    CAST(MAX(CASE WHEN b=2 THEN v END) AS DOUBLE)/4000.0 AS rr,
         |    CAST(MAX(CASE WHEN b=3 THEN v END) AS DOUBLE)/4000.0 AS nn,
         |    CAST(MAX(CASE WHEN b=4 THEN v END) AS DOUBLE)/4000.0 AS s1,
         |    CAST(MAX(CASE WHEN b=5 THEN v END) AS DOUBLE)/4000.0 AS s2,
         |    CAST(MAX(CASE WHEN b=$tempB THEN v END) AS DOUBLE)/40.0 - 10.0 AS bt
         |  FROM gpx GROUP BY 1, 2, 3),
         |gfeat AS (SELECT k, x, y, bb, gg, rr, nn, s1, s2, bt,
         |    (abs(rr - (rr+gg+bb)/3) + abs(gg - (rr+gg+bb)/3)
         |     + abs(bb - (rr+gg+bb)/3)) / ((rr+gg+bb)/3) AS white,
         |    (nn - rr)/(nn + rr) AS ndvi, (gg - s1)/(gg + s1) AS ndsi
         |  FROM gsp),
         |gcls AS (SELECT k, x, y, s1, s2, bt, white, ndvi, ndsi,
         |    CASE WHEN s2 >= 0.03 AND NOT (bt > 27.0) AND NOT (ndvi > 0.8)
         |          AND NOT (ndsi > 0.8) AND bb - 0.5*rr >= 0.08
         |          AND NOT (white > 0.7) AND nn/s1 >= 0.75
         |         THEN 1 ELSE 0 END AS pcp,
         |    CASE WHEN (NOT (ndvi > 0.01) AND NOT (nn > 0.01))
         |           OR (NOT (ndvi > 0.1) AND NOT (nn > 0.05))
         |         THEN 1 ELSE 0 END AS water,
         |    1.0 - GREATEST(white, GREATEST(abs(ndsi), abs(ndvi))) AS vprob
         |  FROM gfeat),
         |gcls2 AS (SELECT *, CASE WHEN water=0 AND pcp=0 THEN 1 ELSE 0 END
         |  AS land FROM gcls),
         |gearly AS (SELECT k, (SUM(pcp) >= 0.999 * COUNT(*)) AS allcloud
         |  FROM gcls2 GROUP BY k),
         |gwmask AS (SELECT k,
         |    CASE WHEN s2 < 0.03 AND water=1 AND pcp=1 THEN bt END AS mv
         |  FROM gcls2),
         |${pctCte("gtw", "gwmask", Seq(82.5))},
         |glmask AS (SELECT k, CASE WHEN land=1 THEN bt END AS mv FROM gcls2),
         |${pctCte("gtl", "glmask", Seq(17.5, 82.5))},
         |gths AS (SELECT t.k,
         |    (SELECT res FROM gtwsel w WHERE w.k = t.k AND w.pct = 82.5)
         |      AS twater,
         |    MAX(CASE WHEN t.pct=17.5 THEN t.res END) AS tlo,
         |    MAX(CASE WHEN t.pct=82.5 THEN t.res END) AS thi
         |  FROM gtlsel t GROUP BY t.k),
         |gprob AS (SELECT c.k, c.x, c.y, c.pcp, c.water, c.land, c.bt,
         |    (h.twater - c.bt)/4.0 * (LEAST(c.s1, 0.11)/0.11) AS wprob,
         |    (h.thi + 4.0 - c.bt)/(h.thi + 4.0 - (h.tlo - 4.0)) * c.vprob
         |      AS lprob,
         |    h.tlo
         |  FROM gcls2 c JOIN gths h ON h.k = c.k),
         |gllm AS (SELECT p.k, CASE WHEN c.land=1 THEN p.lprob END AS mv
         |  FROM gprob p JOIN gcls2 c USING (k, x, y)),
         |${pctCte("glt", "gllm", Seq(82.5))},
         |glth AS (SELECT k, res + 0.2 + 0.0 AS lthresh
         |  FROM gltsel WHERE pct = 82.5),
         |gcl0 AS (SELECT p.k, p.x, p.y,
         |    CASE WHEN (p.pcp = 1 AND p.water = 1 AND p.wprob >= 0.5)
         |           OR (p.pcp = 1 AND p.water = 0 AND p.lprob >= l.lthresh)
         |           OR (p.lprob > 0.99 AND p.water = 0)
         |           OR (NOT (p.bt > p.tlo - 35.0))
         |         THEN 1 ELSE 0 END AS c0
         |  FROM gprob p JOIN glth l ON l.k = p.k),
         |goffs5 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-2,-1,0,1,2]) AS dx) a,
         |       (SELECT unnest([-2,-1,0,1,2]) AS dy) b),
         |ger AS (SELECT m0.k, m0.x, m0.y, MIN(mn.c0) AS e
         |  FROM gcl0 m0 JOIN goffs5 o ON true
         |  JOIN gcl0 mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |goffs3 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |       (SELECT unnest([-1,0,1]) AS dy) b),
         |gdl AS (SELECT m0.k, m0.x, m0.y, MAX(mn.e) AS d
         |  FROM ger m0 JOIN goffs3 o ON true
         |  JOIN ger mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |gfinal AS (SELECT c.k, c.x, c.y,
         |    CASE WHEN e.allcloud THEN c2.pcp ELSE d.d END AS cm,
         |    c2.pcp, c2.water, c2.land
         |  FROM gcl0 c JOIN gdl d USING (k, x, y)
         |  JOIN gcls2 c2 USING (k, x, y)
         |  JOIN gearly e ON e.k = c.k)
         |SELECT i.image_id,
         |  CAST(SUM(1 - f.cm) AS BIGINT) AS n_final,
         |  CAST(SUM(f.cm) AS BIGINT) AS n_cloud,
         |  CAST(SUM(f.pcp) AS BIGINT) AS n_pcp,
         |  CAST(SUM(f.water) AS BIGINT) AS n_water,
         |  CAST(SUM(f.land) AS BIGINT) AS n_land
         |FROM gfinal f JOIN img2 i ON i.k = f.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }

  /** THERMAL ACCA ground truth (full reference cascade replayed in
    * SQL; see the q_acca_thermal registry comment). `tempB` picks the
    * temperature source: 5 = the swir2-derived proxy plane, 6 = the
    * INDEPENDENT LWIR band file ([[graft.gen.Synth.lwirImages]]). */
  private def accaThermalOracle(tempB: Int): String = {
    val tbl = if (tempB == 6) "1,2,3,4,5,6" else "1,2,3,4,5"

      val offs = Algorithms.smearOffsets(45.0, 135.0, 450.0)
      val vals = offs.map { case (sx, sy) => s"($sx, $sy)" }.mkString(", ")
      s"""WITH $I, $SimgCte,
         |tb AS (SELECT unnest([$tbl]) AS b),
         |tbp AS (SELECT s.k, CAST(t.b AS BIGINT) AS b,
         |         200 + (s.k*(t.b+3)) % 800 AS base,
         |         (s.k + 11*t.b) % 8 AS ax, (s.k + 17*t.b) % 8 AS ay
         |       FROM simg s CROSS JOIN tb t),
         |tpx AS (SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s JOIN tbp p ON p.k = s.k
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw),
         |sp AS (SELECT k, x, y,
         |    CAST(MAX(CASE WHEN b=2 THEN v END) AS DOUBLE)/4000.0 AS rr,
         |    CAST(MAX(CASE WHEN b=1 THEN v END) AS DOUBLE)/4000.0 AS gg,
         |    CAST(MAX(CASE WHEN b=3 THEN v END) AS DOUBLE)/4000.0 AS nn,
         |    CAST(MAX(CASE WHEN b=4 THEN v END) AS DOUBLE)/4000.0 AS s1,
         |    CAST(MAX(CASE WHEN b=$tempB THEN v END) AS DOUBLE)/40.0 - 10.0 AS t
         |  FROM tpx GROUP BY 1, 2, 3),
         |pa AS (SELECT k, x, y, t,
         |    CASE WHEN (NOT (rr >= 0.08)) OR (gg-s1)/(gg+s1) >= 0.7
         |           OR t >= 27.0 THEN 0
         |         WHEN (1.0-s1)*(t+273.15) >= 225.0 OR nn/rr >= 2.0
         |           OR nn/gg >= 2.0 OR NOT (nn/s1 >= 1.0) THEN 2
         |         ELSE 1
         |    END AS cls
         |  FROM sp),
         |scene AS (SELECT k, COUNT(*) AS scenesize,
         |    SUM(CASE WHEN cls=1 THEN 1 ELSE 0 END) AS cloudsum,
         |    list(t ORDER BY y, x) FILTER (WHERE cls=1) AS ctl
         |  FROM pa GROUP BY k),
         |cstat AS (SELECT k, scenesize, cloudsum,
         |    CAST(cloudsum AS DOUBLE)/scenesize AS cc,
         |    len(ctl) AS cn,
         |    list_reduce(ctl, (a,b) -> a+b) AS cs,
         |    list_reduce(list_transform(ctl, v -> v*v), (a,b) -> a+b) AS cs2,
         |    list_reduce(list_transform(ctl, v -> v*v*v), (a,b) -> a+b) AS cs3
         |  FROM scene),
         |cstat2 AS (SELECT *, cs/cn AS cmean,
         |    sqrt(GREATEST(0.0, cs2/cn - (cs/cn)*(cs/cn))) AS csd
         |  FROM cstat),
         |cstat3 AS (SELECT *,
         |    CASE WHEN csd = 0.0 THEN NULL
         |         ELSE (cs3/cn - 3*cmean*cs2/cn + 2*cmean*cmean*cmean)
         |              /(csd*csd*csd)
         |    END AS cskew,
         |    (cc > 0.004 AND cn > 0 AND cs/cn < 22.0) AS pass2
         |  FROM cstat2),
         |tmm AS (SELECT k, COUNT(*) AS cnt, MIN(t) AS mn, MAX(t) AS mx
         |  FROM pa GROUP BY k),
         |thb AS (SELECT p.k,
         |    LEAST(99, CAST(FLOOR((p.t - m.mn)/((m.mx - m.mn)/100.0))
         |      AS BIGINT)) AS bin,
         |    COUNT(*) AS cnt
         |  FROM pa p JOIN tmm m ON m.k = p.k
         |  WHERE m.mx <> m.mn GROUP BY 1, 2),
         |tcu AS (SELECT k, bin, cnt,
         |    SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum FROM thb),
         |tpcts AS (SELECT unnest([83.5, 97.5, 98.75]) AS pct),
         |ttgt AS (SELECT m.k, p.pct, p.pct/100.0*m.cnt AS target, m.mn, m.mx
         |  FROM tmm m, tpcts p),
         |tsel AS (SELECT t.k, t.pct,
         |    CASE WHEN t.mx = t.mn THEN t.mn
         |         ELSE t.mn + (t.mx - t.mn)/100.0 *
         |              (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
         |    END AS res
         |  FROM ttgt t LEFT JOIN tcu c ON c.k = t.k
         |    AND c.cum >= t.target AND c.cum - c.cnt < t.target),
         |tpv AS (SELECT k,
         |    MAX(CASE WHEN pct=83.5 THEN res END) AS p835,
         |    MAX(CASE WHEN pct=97.5 THEN res END) AS p975,
         |    MAX(CASE WHEN pct=98.75 THEN res END) AS p9875
         |  FROM tsel GROUP BY k),
         |ths AS (SELECT c.k, c.pass2,
         |    CASE WHEN c.cskew IS NOT NULL AND c.cskew > 0 THEN
         |      t.p835 + LEAST(t.p9875 - t.p975,
         |        c.csd * (CASE WHEN c.cskew > 1.0 THEN 1.0 ELSE c.cskew END))
         |    ELSE t.p835 END AS th0,
         |    CASE WHEN c.cskew IS NOT NULL AND c.cskew > 0 THEN
         |      t.p975 + LEAST(t.p9875 - t.p975,
         |        c.csd * (CASE WHEN c.cskew > 1.0 THEN 1.0 ELSE c.cskew END))
         |    ELSE t.p975 END AS th1,
         |    c.scenesize
         |  FROM cstat3 c JOIN tpv t ON t.k = c.k),
         |wsel AS (SELECT p.k,
         |    COUNT(*) FILTER (WHERE p.cls=2 AND p.t < h.th1 AND p.t > h.th0)
         |      AS wn,
         |    list(p.t ORDER BY p.y, p.x)
         |      FILTER (WHERE p.cls=2 AND p.t < h.th1 AND p.t > h.th0) AS wl,
         |    COUNT(*) FILTER (WHERE p.cls=2 AND p.t < h.th0) AS cn2,
         |    list(p.t ORDER BY p.y, p.x)
         |      FILTER (WHERE p.cls=2 AND p.t < h.th0) AS cl2
         |  FROM pa p JOIN ths h ON h.k = p.k GROUP BY p.k),
         |dec AS (SELECT h.k, h.pass2, h.th0, h.th1,
         |    (h.pass2 AND w.wn > 0
         |      AND CAST(w.wn AS DOUBLE)/h.scenesize < 0.4
         |      AND list_reduce(w.wl, (a,b) -> a+b)/w.wn < 22.0) AS warmAcc,
         |    w.wn, w.cn2,
         |    (w.cn2 > 0 AND CAST(w.cn2 AS DOUBLE)/h.scenesize < 0.4
         |      AND list_reduce(w.cl2, (a,b) -> a+b)/w.cn2 < 22.0) AS coldOk
         |  FROM ths h JOIN wsel w ON w.k = h.k),
         |dec2 AS (SELECT k, pass2, th0, th1, warmAcc,
         |    (pass2 AND NOT warmAcc AND coldOk) AS coldAcc FROM dec),
         |ambacc AS (SELECT p.k, p.x, p.y, p.cls, p.t,
         |    CASE WHEN d.warmAcc THEN
         |           CASE WHEN p.cls=2 AND p.t < d.th1 AND p.t > d.th0
         |                THEN 1 ELSE 0 END
         |         WHEN d.coldAcc THEN
         |           CASE WHEN p.cls=2 AND p.t < d.th0 THEN 1 ELSE 0 END
         |         ELSE CASE WHEN p.cls=2 THEN 1 ELSE 0 END
         |    END AS amb2,
         |    (d.warmAcc OR d.coldAcc) AS addclouds
         |  FROM pa p JOIN dec2 d ON d.k = p.k),
         |cl0 AS (SELECT k, x, y,
         |    CASE WHEN cls=1 OR (addclouds AND amb2=1) THEN 1 ELSE 0 END
         |      AS c0
         |  FROM ambacc),
         |aoffs3 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |       (SELECT unnest([-1,0,1]) AS dy) b),
         |agrown AS (SELECT m0.k, m0.x, m0.y, MAX(mn.c0) AS g
         |  FROM cl0 m0 JOIN aoffs3 o ON true
         |  JOIN cl0 mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |asmoffs AS (SELECT * FROM (VALUES $vals) AS t(sx, sy)),
         |afin AS (SELECT g0.k, g0.x, g0.y,
         |    GREATEST(g0.g, COALESCE(MAX(gs.g), 0)) AS f
         |  FROM agrown g0
         |  LEFT JOIN asmoffs s ON true
         |  LEFT JOIN agrown gs ON gs.k = g0.k
         |    AND gs.x = g0.x - s.sx AND gs.y = g0.y - s.sy
         |  GROUP BY 1, 2, 3, g0.g)
         |SELECT i.image_id,
         |  CAST(SUM(1 - f.f) AS BIGINT) AS n_final,
         |  CAST(SUM(f.f) AS BIGINT) AS n_cloud,
         |  CAST(SUM(a.amb2) AS BIGINT) AS n_amb,
         |  CAST(SUM(CASE WHEN a.cls=1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass1
         |FROM ambacc a JOIN afin f USING (k, x, y) JOIN img2 i ON i.k = a.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }

  def oracleSql: Map[String, String] = Map(
    "q_audio_meta" ->
      s"""WITH $Aud
         |SELECT sr, lang, CAST(COUNT(*) AS BIGINT) AS n_clips,
         |       CAST(SUM((n*1000)//sr) AS BIGINT) AS total_ms
         |FROM aud GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_audio_stats" ->
      s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen},
         |ad AS (SELECT audio_id, s,
         |         LAG(s) OVER (PARTITION BY audio_id ORDER BY i) AS ps
         |       FROM asamp)
         |SELECT audio_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
         |  CAST(SUM(s*s) AS BIGINT) AS sum_sq,
         |  CAST(MAX(ABS(s)) AS BIGINT) AS max_abs,
         |  CAST(SUM(CASE WHEN ps IS NOT NULL AND ps*s < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
         |  CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_silent
         |FROM ad GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_audio_trim" ->
      s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen}
         |SELECT audio_id,
         |  CAST(COALESCE(MIN(CASE WHEN s <> 0 THEN i END), -1) AS BIGINT)
         |    AS first_voiced,
         |  CAST(COALESCE(MAX(CASE WHEN s <> 0 THEN i END), -1) AS BIGINT)
         |    AS last_voiced,
         |  CAST(COALESCE(MAX(CASE WHEN s <> 0 THEN i END)
         |    - MIN(CASE WHEN s <> 0 THEN i END) + 1, 0) AS BIGINT)
         |    AS trimmed_n
         |FROM asamp GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_audio_resample" ->
      s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen}
         |SELECT audio_id, CAST(8000 AS BIGINT) AS out_sr,
         |  CAST(COUNT(*) AS BIGINT) AS out_n,
         |  CAST(SUM(s * (((i // (sr//8000)) % 97) + 1)) AS BIGINT)
         |    AS checksum
         |FROM asamp WHERE i % (sr//8000) = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_audio_frames" ->
      s"""WITH $Aud, $SaudFrCte, ${OracleCte.audioGen}, $AudFrameCte
         |SELECT audio_id, CAST(fr AS BIGINT) AS frame_no, energy
         |FROM fe ORDER BY 1, 2""".stripMargin,

    "q_audio_vad" ->
      s"""WITH $Aud, $SaudFrCte, ${OracleCte.audioGen}, $AudFrameCte,
         |av AS (SELECT audio_id, fr FROM fe
         |       WHERE energy >= ${Audio.VadEnergyMin}),
         |ag AS (SELECT audio_id, fr,
         |         fr - ROW_NUMBER() OVER (PARTITION BY audio_id
         |           ORDER BY fr) AS grp
         |       FROM av),
         |asg AS (SELECT audio_id, grp, MIN(fr) AS f0, MAX(fr) AS f1,
         |          COUNT(*) AS nf FROM ag GROUP BY 1, 2)
         |SELECT audio_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY audio_id ORDER BY f0)
         |    AS BIGINT) AS seg_no,
         |  CAST(f0 AS BIGINT) AS f0, CAST(f1 AS BIGINT) AS f1,
         |  CAST(nf AS BIGINT) AS n_frames
         |FROM asg ORDER BY 1, 2""".stripMargin,

    "q_audio_fingerprint" ->
      s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen}, $AudFpCte
         |SELECT audio_id, fp FROM afp ORDER BY 1""".stripMargin,

    "q_audio_neardup" ->
      s"""WITH $Aud, $SaudTwCte,
         |${OracleCte.audioGenTw}, $AudFpCte
         |SELECT a.audio_id AS id_a, b.audio_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS dist
         |FROM afp a JOIN afp b ON a.audio_id < b.audio_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY 1, 2""".stripMargin,

    "q_audio_pitch" ->
      s"""WITH $Aud, $SaudFrCte, ${OracleCte.audioGen}, $AudPitchCte
         |SELECT audio_id, best_lag, r_best FROM apt
         |ORDER BY 1""".stripMargin,

    "q_audio_pack" ->
      s"""WITH $Aud,
         |b AS (SELECT audio_id, ${Md5BucketSql("audio_id")} % 8 AS shard,
         |        n FROM aud),
         |c AS (SELECT audio_id, shard, n,
         |  CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY audio_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS samp_start FROM b)
         |SELECT audio_id, CAST(shard AS BIGINT) AS shard, n, samp_start,
         |  CAST(FLOOR(samp_start / 4000.0) AS BIGINT) AS first_win,
         |  CAST(FLOOR((samp_start + n - 1) / 4000.0) AS BIGINT)
         |    AS last_win
         |FROM c ORDER BY audio_id""".stripMargin,

    "q_curate_audio" ->
      s"""WITH $Aud, $SaudTwCte,
         |${OracleCte.audioGenTw},
         |ast AS (SELECT audio_id, COUNT(*) AS n_samples,
         |          SUM(s*s) AS sum_sq, MAX(ABS(s)) AS max_abs,
         |          SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n_silent
         |        FROM asamp GROUP BY 1),
         |$AudFrameCte,
         |avv AS (SELECT audio_id,
         |          SUM(CASE WHEN energy >= ${Audio.VadEnergyMin}
         |            THEN 1 ELSE 0 END) AS nfv,
         |          COUNT(*) AS nft
         |        FROM fe GROUP BY 1),
         |$AudPitchCte, $AudFpCte,
         |adup AS (SELECT b.audio_id FROM afp a JOIN afp b
         |           ON a.audio_id < b.audio_id
         |         WHERE bit_count(xor(a.fp, b.fp)) <= 3)
         |SELECT t.audio_id, CAST(t.n_samples AS BIGINT) AS n_samples,
         |  CAST(t.sum_sq AS BIGINT) AS sum_sq, p.best_lag
         |FROM ast t JOIN avv v USING (audio_id)
         |  JOIN apt p USING (audio_id)
         |WHERE t.n_silent*5 <= t.n_samples AND t.max_abs >= 500
         |  AND v.nfv*3 >= v.nft*2 AND p.best_lag <= 240
         |  AND t.audio_id NOT IN (SELECT audio_id FROM adup)
         |ORDER BY 1""".stripMargin,

    "q_audio_normalize" ->
      s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen},
         |amx AS (SELECT audio_id, MAX(ABS(s)) AS ma
         |        FROM asamp GROUP BY 1)
         |SELECT p.audio_id, CAST(m.ma AS BIGINT) AS max_abs,
         |  CAST(SUM((CASE WHEN p.s >= 0 THEN (p.s*10000) // m.ma
         |    ELSE -(((-p.s)*10000 + m.ma - 1) // m.ma) END)
         |    * ((p.i % 101) + 1)) AS BIGINT) AS norm_checksum
         |FROM asamp p JOIN amx m ON m.audio_id = p.audio_id
         |GROUP BY 1, m.ma ORDER BY 1""".stripMargin,

    "q_images_meta" ->
      s"""WITH $I
         |SELECT image_id, w, h, fmt, nw, caption, x0m, y0m, x1m, y1m
         |FROM img2 ORDER BY image_id""".stripMargin,

    "q_cells_cover" ->
      s"""WITH $I,
         |c AS (SELECT image_id,
         |  (x0m+180000)//4096 AS ix0, (x1m-1+180000)//4096 AS ix1,
         |  (y0m+90000)//4096 AS iy0, (y1m-1+90000)//4096 AS iy1 FROM img2)
         |SELECT image_id, cix, ciy,
         |       7*1125899906842624 + cix*33554432 + ciy AS cell_id
         |FROM c
         |CROSS JOIN LATERAL (SELECT unnest(generate_series(ix0, ix1)) AS cix) a
         |CROSS JOIN LATERAL (SELECT unnest(generate_series(iy0, iy1)) AS ciy) b
         |ORDER BY image_id, cell_id""".stripMargin,

    "q_cube" ->
      s"""WITH $I
         |SELECT fmt, nw, CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(w*h) AS BIGINT) AS px_sum
         |FROM img2 GROUP BY CUBE (fmt, nw)
         |ORDER BY fmt NULLS FIRST, nw NULLS FIRST""".stripMargin,

    // identical 40-term interleave sum replayed in SQL
    "q_zorder" -> {
      val zTerms = (0 until 20).map(b =>
        s"(((zix >> $b) & 1) << ${2 * b + 1}) + " +
          s"(((ziy >> $b) & 1) << ${2 * b})").mkString(" + ")
      s"""WITH $I,
         |c AS (SELECT image_id,
         |  CAST((x0m+180000)//512 AS BIGINT) AS zix,
         |  CAST((y0m+90000)//512 AS BIGINT) AS ziy FROM img2)
         |SELECT image_id, zix, ziy, CAST($zTerms AS BIGINT) AS z
         |FROM c ORDER BY z, image_id""".stripMargin
    },

    // geohash ground truth: bisection bits = high bits of the scaled
    // integer, 40-bit lon-first interleave, base-32 substr lookup
    "q_geohash" -> {
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
    },

    "q_quadkey" -> {
      val digits = (0 until 7).map(i =>
        s"CAST(((ty >> ${6 - i}) & 1)*2 + ((tx >> ${6 - i}) & 1)" +
          " AS VARCHAR)").mkString("concat(", ", ", ")")
      s"""WITH $I,
         |t AS (SELECT image_id, (x0m+150000)//4096 AS tx,
         |        (y0m+60000)//4096 AS ty FROM img2),
         |q AS (SELECT image_id, $digits AS qk7 FROM t)
         |SELECT image_id, qk7, substr(qk7, 1, 4) AS qk4
         |FROM q ORDER BY image_id""".stripMargin
    },

    "q_quadkey_rollup" -> {
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
    },

    // res-10 cover (cell edge 512 mdeg) → res-7 parent via //8: the
    // nonneg-shifted grid makes >> and // agree
    "q_cell_rollup" ->
      s"""WITH $I,
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
         |FROM f GROUP BY 1, 2, 3 ORDER BY cell_id""".stripMargin,

    "q_spatial_join" ->
      s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, overlap_area FROM j
         |ORDER BY image_id, fid""".stripMargin,

    "q_spatial_join_agg" ->
      s"""WITH $I, $P, $joinCte
         |SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_images,
         |       CAST(SUM(overlap_area) AS BIGINT) AS area_sum
         |FROM j GROUP BY fid ORDER BY fid""".stripMargin,

    "q_spatial_join_salted" ->
      s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, overlap_area FROM j
         |ORDER BY image_id, fid""".stripMargin,

    "q_spatial_join_bloom" ->
      s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, overlap_area FROM j
         |ORDER BY image_id, fid""".stripMargin,

    "q_spatial_anti" ->
      s"""WITH $I, $P
         |SELECT image_id FROM img2 i
         |WHERE NOT EXISTS (SELECT 1 FROM poly2 p
         |  WHERE i.x0m < p.px1m AND p.px0m < i.x1m
         |    AND i.y0m < p.py1m AND p.py0m < i.y1m)
         |ORDER BY image_id""".stripMargin,

    "q_knn" ->
      s"""WITH $I, $P,
         |q AS (SELECT fid AS qid, px0m + pwm//2 AS qxm, py0m + phm//2 AS qym
         |      FROM poly2),
         |cand AS (
         |  SELECT q.qid, i.image_id,
         |    (i.x0m + i.w*2 - q.qxm)*(i.x0m + i.w*2 - q.qxm) +
         |    (i.y0m + i.h*2 - q.qym)*(i.y0m + i.h*2 - q.qym) AS dist2
         |  FROM q CROSS JOIN img2 i),
         |ranked AS (
         |  SELECT qid, image_id, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, image_id)
         |      AS rank
         |  FROM cand)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, image_id, dist2
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_tiles" ->
      s"""WITH $I,
         |t AS (SELECT image_id, h, GREATEST(1, 1024 // w) AS rpt FROM img2),
         |t2 AS (SELECT *, (h + rpt - 1) // rpt AS n_tiles FROM t)
         |SELECT image_id, tile_idx, tile_idx*rpt AS ty0,
         |       LEAST(h, (tile_idx+1)*rpt) AS ty1,
         |       LEAST(h, (tile_idx+1)*rpt) - tile_idx*rpt AS th
         |FROM t2
         |CROSS JOIN LATERAL
         |  (SELECT unnest(generate_series(0, n_tiles-1)) AS tile_idx) g
         |ORDER BY image_id, tile_idx""".stripMargin,

    "q_tiles_pad" ->
      s"""WITH $I,
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
         |ORDER BY image_id, tile_idx""".stripMargin,

    "q_crop_rects" ->
      s"""WITH $I, $P, $joinCte,
         |c AS (SELECT image_id, fid, x0m, y1m,
         |        GREATEST(x0m,px0m) AS ix0m, GREATEST(y0m,py0m) AS iy0m,
         |        LEAST(x1m,px1m) AS ix1m, LEAST(y1m,py1m) AS iy1m
         |      FROM j)
         |SELECT image_id, fid,
         |       (ix0m - x0m)//4 AS cpx0, (y1m - iy1m)//4 AS cpy0,
         |       (ix1m - x0m + 3)//4 AS cpx1, (y1m - iy0m + 3)//4 AS cpy1
         |FROM c ORDER BY image_id, fid""".stripMargin,

    "q_band_stats" ->
      s"""WITH $I, $B,
         |stat AS (
         |  SELECT i.image_id, p.b, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |    ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |    ((i.w-1)*i.w*(2*i.w-1))//6 - ((i.nw-1)*i.nw*(2*i.nw-1))//6 AS sx2,
         |    (i.h*(i.h-1))//2 AS sy,
         |    ((i.h-1)*i.h*(2*i.h-1))//6 AS sy2
         |  FROM img2 i JOIN bandp p ON p.k = i.k
         |  WHERE i.k % 6 IN (1,2))
         |SELECT image_id, b AS band,
         |  (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy AS vsumsq
         |FROM stat ORDER BY image_id, band""".stripMargin,

    // png twin: 8-bit law v8 = 1 + ramp % 255 over VALID pixels of the
    // single stored band — per-pixel lateral replay (no closed form
    // for the mod), values exact through encode→PNG bytes→decode
    "q_band_stats_png" ->
      s"""WITH $I, $B,
         |simgp AS (SELECT * FROM img2
         |  WHERE fmt = 'png' AND w <= 96 AND h <= 96),
         |pxp AS (
         |  SELECT s.image_id, 1 + (p.base + p.ax*xs.x + p.ay*ys.y) % 255 AS v8
         |  FROM simgp s
         |  JOIN bandp p ON p.k = s.k AND p.b = 0
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw)
         |SELECT image_id, CAST(0 AS BIGINT) AS band,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(v8) AS BIGINT) AS vsum,
         |  CAST(MIN(v8) AS BIGINT) AS vmin,
         |  CAST(MAX(v8) AS BIGINT) AS vmax,
         |  CAST(SUM(v8*v8) AS BIGINT) AS vsumsq
         |FROM pxp GROUP BY image_id ORDER BY image_id""".stripMargin,

    // same closed forms as q_band_stats, rolled up per band
    "q_channel_norm" ->
      s"""WITH $I, $B,
         |stat AS (
         |  SELECT i.image_id, p.b, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |    ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |    ((i.w-1)*i.w*(2*i.w-1))//6 - ((i.nw-1)*i.nw*(2*i.nw-1))//6
         |      AS sx2,
         |    (i.h*(i.h-1))//2 AS sy,
         |    ((i.h-1)*i.h*(2*i.h-1))//6 AS sy2
         |  FROM img2 i JOIN bandp p ON p.k = i.k
         |  WHERE i.k % 6 IN (1,2)),
         |pb AS (SELECT b AS band, (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy
         |    AS vsumsq
         |  FROM stat)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(cnt) AS BIGINT) AS cnt,
         |  CAST(SUM(vsum) AS BIGINT) AS vsum,
         |  CAST(SUM(vsumsq) AS BIGINT) AS vsumsq,
         |  CAST(MIN(vmin) AS BIGINT) AS vmin,
         |  CAST(MAX(vmax) AS BIGINT) AS vmax
         |FROM pb GROUP BY band ORDER BY band""".stripMargin,

    // dtype-lattice transcode: the ramp values fit every new dtype
    // exactly, so the per-(image, band) closed forms are fmt-invariant
    // — one cross join over the 4 new raw fmts
    "q_dtype_stats" ->
      s"""WITH $I, $B, $SimgCte,
         |dfmts AS (SELECT unnest(
         |  ['raw-f64le','raw-i32le','raw-u16le','raw-u32le']) AS dfmt),
         |stat AS (
         |  SELECT i.image_id, p.b, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |    ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |    ((i.w-1)*i.w*(2*i.w-1))//6 - ((i.nw-1)*i.nw*(2*i.nw-1))//6 AS sx2,
         |    (i.h*(i.h-1))//2 AS sy,
         |    ((i.h-1)*i.h*(2*i.h-1))//6 AS sy2
         |  FROM simg i JOIN bandp p ON p.k = i.k)
         |SELECT image_id, d.dfmt, b AS band,
         |  (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy AS vsumsq
         |FROM stat CROSS JOIN dfmts d
         |ORDER BY image_id, d.dfmt, band""".stripMargin,

    "q_create_from" ->
      s"""WITH $I, $SimgCte
         |SELECT image_id, 'raw-u8' AS fmt, w, h, CAST(0 AS BIGINT) AS n_valid
         |FROM simg ORDER BY image_id""".stripMargin,

    // band 7 of the stacked cube = source-2 green (b=1 closed forms)
    "q_stack_bands" ->
      s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 1
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id, CAST(12 AS BIGINT) AS n_bands,
         |  CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin,

    "q_info" -> {
      val bandList = Synth.BandNames.mkString(",")
      s"""WITH $I
         |SELECT image_id,
         |  image_id || ': ' || CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR)
         |  || ' fmt=' || fmt || ' bands=$bandList'
         |  || ' extent=[' || CAST(x0m AS VARCHAR) || ',' || CAST(y0m AS VARCHAR)
         |  || ',' || CAST(x1m AS VARCHAR) || ',' || CAST(y1m AS VARCHAR) || ']'
         |  AS info
         |FROM img2 ORDER BY image_id""".stripMargin
    },

    // gain/offset read boundary: out = v·0.1 + 5 over band-0 valid px
    // Zhang-Suen thinning replayed EXACTLY in a recursive CTE: each
    // recursion step is one sub-pass (pass parity = it % 2, matching
    // the engine's pass0/pass1 alternation); the 8-neighborhood is
    // built by exploding every live cell into 9 (bit, offset)
    // contributions and grouping on the receiving cell (the recursive
    // working table may be referenced only once — this needs no
    // self-join). 80 sub-passes = 40 engine rounds, far past
    // convergence for ≤64px half-plane masks; extra sub-passes are
    // no-ops on the stable skeleton, so the fixed bound equals the
    // engine's run-until-stable result.
    "q_skeletonize" ->
      s"""WITH RECURSIVE $I, $B, $SimgCte,
         |offs(bit, dx, dy, po2) AS (VALUES
         |  (0, 0, -1, 1), (1, 1, -1, 2), (2, 1, 0, 4), (3, 1, 1, 8),
         |  (4, 0, 1, 16), (5, -1, 1, 32), (6, -1, 0, 64), (7, -1, -1, 128),
         |  (8, 0, 0, 0)),
         |m0 AS (
         |  SELECT s.k, xs.x, ys.y
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |    AND p3.base + p3.ax*xs.x + p3.ay*ys.y
         |      > p2.base + p2.ax*xs.x + p2.ay*ys.y),
         |thin(k, x, y, it) AS (
         |  SELECT k, x, y, 0 FROM m0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MAX(t.it) AS it,
         |           MAX(CASE WHEN o.bit = 8 THEN 1 ELSE 0 END) AS fg,
         |           CAST(SUM(o.po2) AS INTEGER) AS m
         |    FROM thin t CROSS JOIN offs o
         |    GROUP BY 1, 2, 3
         |  ) c
         |  WHERE c.fg = 1 AND c.it < 80 AND NOT (
         |    bit_count(c.m) BETWEEN 2 AND 6
         |    AND (CASE WHEN ((c.m>>0)&1)=0 AND ((c.m>>1)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>1)&1)=0 AND ((c.m>>2)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>2)&1)=0 AND ((c.m>>3)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>3)&1)=0 AND ((c.m>>4)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>4)&1)=0 AND ((c.m>>5)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>5)&1)=0 AND ((c.m>>6)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>6)&1)=0 AND ((c.m>>7)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>7)&1)=0 AND ((c.m>>0)&1)=1 THEN 1 ELSE 0 END) = 1
         |    AND (CASE WHEN c.it % 2 = 0
         |         THEN NOT (((c.m>>0)&1)=1 AND ((c.m>>2)&1)=1 AND ((c.m>>4)&1)=1)
         |          AND NOT (((c.m>>2)&1)=1 AND ((c.m>>4)&1)=1 AND ((c.m>>6)&1)=1)
         |         ELSE NOT (((c.m>>0)&1)=1 AND ((c.m>>2)&1)=1 AND ((c.m>>6)&1)=1)
         |          AND NOT (((c.m>>0)&1)=1 AND ((c.m>>4)&1)=1 AND ((c.m>>6)&1)=1)
         |         END))
         |),
         |skel AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_skel
         |         FROM thin WHERE it = 80 GROUP BY k),
         |msk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_mask
         |        FROM m0 GROUP BY k)
         |SELECT s.image_id, COALESCE(msk.n_mask, 0) AS n_mask,
         |       COALESCE(skel.n_skel, 0) AS n_skel
         |FROM simg s LEFT JOIN msk ON msk.k = s.k
         |LEFT JOIN skel ON skel.k = s.k
         |ORDER BY 1""".stripMargin,

    // flux-skeleton invariant oracle: n_mask replayed per-pixel; the
    // n>r half-plane ∩ valid-rect mask is CONVEX, so its 8-connected
    // component count is sign(n_mask) — topology preservation and the
    // subset property become closed-form columns (engine violations
    // surface as value mismatches)
    "q_skeleton_flux" ->
      s"""WITH $I, $B, $SimgCte,
         |mfx AS (
         |  SELECT s.image_id,
         |    CAST(COUNT(*) FILTER (WHERE
         |      p3.base + p3.ax*xs.x + p3.ay*ys.y
         |      > p2.base + p2.ax*xs.x + p2.ay*ys.y) AS BIGINT) AS n_mask
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |  GROUP BY s.image_id)
         |SELECT image_id, n_mask,
         |  CAST(CASE WHEN n_mask > 0 THEN 1 ELSE 0 END AS BIGINT) AS comp_mask,
         |  CAST(CASE WHEN n_mask > 0 THEN 1 ELSE 0 END AS BIGINT) AS comp_skel,
         |  CAST(0 AS BIGINT) AS subset_viol
         |FROM mfx ORDER BY image_id""".stripMargin,

    "q_distance_transform" ->
      s"""WITH $I, $B, $SimgCte,
         |dtoffs(dx, dy) AS (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),
         |  (1,0),(-1,1),(0,1),(1,1)),
         |dtm0 AS (
         |  SELECT s.k, s.w, s.h, s.nw, xs.x, ys.y
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |    AND p3.base + p3.ax*xs.x + p3.ay*ys.y
         |      > p2.base + p2.ax*xs.x + p2.ay*ys.y),
         |dtcand AS (
         |  SELECT DISTINCT m.k, m.x + o.dx AS bx, m.y + o.dy AS by
         |  FROM dtm0 m CROSS JOIN dtoffs o),
         |dtbgb AS (
         |  SELECT c.k, c.bx, c.by
         |  FROM dtcand c
         |  JOIN simg s ON s.k = c.k
         |  JOIN bandp p2 ON p2.k = c.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = c.k AND p3.b = 3
         |  WHERE c.bx BETWEEN 0 AND s.w-1 AND c.by BETWEEN 0 AND s.h-1
         |    AND NOT (c.bx >= s.nw
         |      AND p3.base + p3.ax*c.bx + p3.ay*c.by
         |        > p2.base + p2.ax*c.bx + p2.ay*c.by)),
         |dtmin AS (
         |  SELECT m.k, m.x, m.y,
         |    LEAST(
         |      CAST(LEAST(m.x+1, m.w-m.x, m.y+1, m.h-m.y) AS BIGINT)
         |        * LEAST(m.x+1, m.w-m.x, m.y+1, m.h-m.y),
         |      COALESCE(MIN(CAST(m.x-b.bx AS BIGINT)*(m.x-b.bx)
         |        + CAST(m.y-b.by AS BIGINT)*(m.y-b.by)),
         |        1099511627776)) AS d2
         |  FROM dtm0 m LEFT JOIN dtbgb b ON b.k = m.k
         |  GROUP BY m.k, m.x, m.y, m.w, m.h),
         |dtagg AS (
         |  SELECT k, COUNT(*) AS n_fg, SUM(d2) AS d2sum,
         |    MAX(d2) AS d2max, SUM(d2 * (x + 131*y)) AS d2chk
         |  FROM dtmin GROUP BY k)
         |SELECT s.image_id,
         |  CAST(COALESCE(a.n_fg, 0) AS BIGINT) AS n_fg,
         |  CAST(COALESCE(a.d2sum, 0) AS BIGINT) AS d2sum,
         |  CAST(COALESCE(a.d2max, 0) AS BIGINT) AS d2max,
         |  CAST(COALESCE(a.d2chk, 0) AS BIGINT) AS d2chk
         |FROM simg s LEFT JOIN dtagg a ON a.k = s.k
         |ORDER BY s.image_id""".stripMargin,

    // Horn stencil stated multiplicatively: dzdx = Σ z·dx·(2−|dy|),
    // dzdy = Σ z·dy·(2−|dx|) over the 3×3 window; /32.0 is a
    // power-of-two divide so gx/gy and their squares are exact, and
    // sqrt / ×1e6 are one correctly-rounded IEEE op each
    "q_dem_slope" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |soff AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |              (SELECT unnest([-1,0,1]) AS dy) b),
         |sg AS (SELECT d.k, d.image_id, d.x, d.y,
         |         SUM(n.z * o.dx * (2-abs(o.dy))) AS dzdx,
         |         SUM(n.z * o.dy * (2-abs(o.dx))) AS dzdy
         |       FROM demp d JOIN soff o ON TRUE
         |       JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |         AND n.y = d.y + o.dy
         |       WHERE d.x >= 1 AND d.x <= d.w-2
         |         AND d.y >= 1 AND d.y <= d.h-2
         |       GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(abs(dzdx)) AS BIGINT) AS adx_sum,
         |  CAST(SUM(abs(dzdy)) AS BIGINT) AS ady_sum,
         |  CAST(SUM(CAST(FLOOR(sqrt((dzdx/32.0)*(dzdx/32.0)
         |    + (dzdy/32.0)*(dzdy/32.0)) * 1e6) AS BIGINT)) AS BIGINT)
         |    AS slope_fsum
         |FROM sg GROUP BY image_id ORDER BY image_id""".stripMargin,

    // same Horn stencil as q_dem_slope; shade = (gx/2 − gy/2 + √2/2)
    // / sqrt(1 + gx² + gy²) with gx/gy exact multiples of 1/32 —
    // every op is one identically-rounded IEEE step in both engines
    "q_hillshade" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |hoff AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |              (SELECT unnest([-1,0,1]) AS dy) b),
         |hg AS (SELECT d.k, d.image_id, d.x, d.y,
         |         SUM(n.z * o.dx * (2-abs(o.dy))) AS dzdx,
         |         SUM(n.z * o.dy * (2-abs(o.dx))) AS dzdy
         |       FROM demp d JOIN hoff o ON TRUE
         |       JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |         AND n.y = d.y + o.dy
         |       WHERE d.x >= 1 AND d.x <= d.w-2
         |         AND d.y >= 1 AND d.y <= d.h-2
         |       GROUP BY 1, 2, 3, 4),
         |hs AS (SELECT image_id,
         |         ((dzdx/32.0)/2 - (dzdy/32.0)/2 + sqrt(2.0)/2) /
         |         sqrt(1.0 + ((dzdx/32.0)*(dzdx/32.0)
         |           + (dzdy/32.0)*(dzdy/32.0))) AS shade
         |       FROM hg)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(CASE WHEN shade > 0
         |    THEN CAST(FLOOR(shade * 1e6) AS BIGINT) ELSE 0 END)
         |    AS BIGINT) AS shade_fsum,
         |  CAST(SUM(CASE WHEN shade <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shadow
         |FROM hs GROUP BY image_id ORDER BY image_id""".stripMargin,

    // integer argmin key (2048 − drop)·16 + code: minimizing it picks
    // the steepest positive drop with lowest-code ties; key//16
    // recovers the drop for the pit test — the exact encoding the
    // engine kernel uses
    "q_flow_d8" ->
      s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |fcand AS (SELECT c.k, c.image_id, c.x, c.y,
         |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
         |          FROM demp c JOIN d8 d ON TRUE
         |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |            AND n.y = c.y + d.dy
         |          GROUP BY 1, 2, 3, 4),
         |fdir AS (SELECT image_id,
         |           CASE WHEN 2048 - key//16 <= 0 THEN -1
         |                ELSE key%16 END AS dir
         |         FROM fcand)
         |SELECT image_id, CAST(dir AS BIGINT) AS dir,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM fdir GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every cell's flow path walked to its pit (strictly-decreasing z
    // ⇒ a DAG ⇒ the recursion terminates); acc(c) = visits of c
    "q_flow_accum" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |acand AS (SELECT c.k, c.x, c.y,
         |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
         |          FROM demp c JOIN d8 d ON TRUE
         |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |            AND n.y = c.y + d.dy
         |          GROUP BY 1, 2, 3),
         |aedge AS (SELECT c.k, c.x, c.y,
         |            c.x + d.dx AS tx, c.y + d.dy AS ty
         |          FROM acand c JOIN d8 d ON d.code = c.key % 16
         |          WHERE 2048 - c.key//16 > 0),
         |walk AS (
         |  SELECT g.k, g.x, g.y, g.x AS cx, g.y AS cy FROM demp g
         |  UNION ALL
         |  SELECT w2.k, w2.x, w2.y, e.tx, e.ty
         |  FROM walk w2 JOIN aedge e ON e.k = w2.k AND e.x = w2.cx
         |    AND e.y = w2.cy),
         |aacc AS (SELECT k, cx AS x, cy AS y, COUNT(*) AS acc
         |         FROM walk GROUP BY 1, 2, 3)
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(a.acc) AS BIGINT) AS acc_sum,
         |  CAST(MAX(a.acc) AS BIGINT) AS acc_max,
         |  CAST(SUM(a.acc*a.acc) AS BIGINT) AS acc_sq_sum
         |FROM aacc a JOIN simg s ON s.k = a.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TRI = Σ|z_c − z_n| over the 8-neighborhood, roughness = 3×3
    // max − min; interior pixels, pure integers
    "q_tri_rough" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |troff AS (SELECT a.dx, b.dy
         |          FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |               (SELECT unnest([-1,0,1]) AS dy) b
         |          WHERE a.dx <> 0 OR b.dy <> 0),
         |trp AS (SELECT d.k, d.image_id, d.x, d.y,
         |          SUM(ABS(d.z - n.z)) AS tri,
         |          GREATEST(MAX(n.z), d.z) - LEAST(MIN(n.z), d.z)
         |            AS rough
         |        FROM demp d JOIN troff o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, d.z)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(tri) AS BIGINT) AS tri_sum,
         |  CAST(MAX(tri) AS BIGINT) AS tri_max,
         |  CAST(SUM(rough) AS BIGINT) AS rough_sum,
         |  CAST(MAX(rough) AS BIGINT) AS rough_max
         |FROM trp GROUP BY image_id ORDER BY image_id""".stripMargin,

    // Strahler fixpoint: all cells start at order 1; each round every
    // cell re-derives ord from its upstream orders (max, +1 on a >=2
    // tie at the max, found via lexicographic struct MAX over
    // per-value counts). Monotone from below, never overshoots,
    // converges within the flow-DAG depth (measured <= 41; bound 48)
    "q_strahler" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |shcand AS (SELECT c.k, c.x, c.y,
         |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
         |          FROM demp c JOIN d8 d ON TRUE
         |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |            AND n.y = c.y + d.dy
         |          GROUP BY 1, 2, 3),
         |shedge AS (SELECT c.k, c.x, c.y,
         |            c.x + d.dx AS tx, c.y + d.dy AS ty
         |          FROM shcand c JOIN d8 d ON d.code = c.key % 16
         |          WHERE 2048 - c.key//16 > 0),
         |shed2 AS (SELECT k, x, y, tx, ty, FALSE AS self FROM shedge
         |          UNION ALL
         |          SELECT k, x, y, x, y, TRUE FROM demp),
         |shfix(k, x, y, ord, it) AS (
         |  SELECT k, x, y, CAST(1 AS BIGINT), 0 FROM demp
         |  UNION ALL
         |  SELECT g.k, g.x, g.y,
         |    CASE WHEN (g.ms).v = 0 THEN 1
         |      ELSE (g.ms).v + CASE WHEN (g.ms).c >= 2 THEN 1
         |        ELSE 0 END END,
         |    g.it + 1
         |  FROM (
         |    SELECT cg.k, cg.x, cg.y, cg.it,
         |      MAX(struct_pack(v := cg.v, c := cg.cnt)) AS ms
         |    FROM (
         |      SELECT t.k, e.tx AS x, e.ty AS y, t.it,
         |        CASE WHEN e.self THEN 0 ELSE t.ord END AS v,
         |        COUNT(*) AS cnt
         |      FROM shfix t JOIN shed2 e
         |        ON e.k = t.k AND e.x = t.x AND e.y = t.y
         |      WHERE t.it < 48
         |      GROUP BY 1, 2, 3, 4, 5) cg
         |    GROUP BY 1, 2, 3, 4) g),
         |shfin AS (SELECT k, x, y, ord FROM shfix WHERE it = 48)
         |SELECT s.image_id, CAST(f.ord AS BIGINT) AS ord,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells
         |FROM shfin f JOIN simg s ON s.k = f.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Laplacian pyramid: G1 = floor-mean over full 2x2 blocks (odd
    // trailing row/col excluded by the inner join), L = G - parent
    "q_lap_pyramid" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |lp1 AS (SELECT k, x//2 AS u, y//2 AS v, w//2 AS w1,
         |          h//2 AS h1, SUM(z)//4 AS g
         |        FROM demp WHERE x < 2*(w//2) AND y < 2*(h//2)
         |        GROUP BY 1, 2, 3, 4, 5),
         |lp2 AS (SELECT k, u//2 AS p, v//2 AS q, SUM(g)//4 AS g2
         |        FROM lp1 WHERE u < 2*(w1//2) AND v < 2*(h1//2)
         |        GROUP BY 1, 2, 3),
         |ll0 AS (SELECT d.k, d.image_id, ABS(d.z - g.g) AS a
         |        FROM demp d JOIN lp1 g ON g.k = d.k
         |          AND g.u = d.x//2 AND g.v = d.y//2),
         |ll1 AS (SELECT a.k, SUM(ABS(a.g - b.g2)) AS s1
         |        FROM lp1 a JOIN lp2 b ON b.k = a.k
         |          AND b.p = a.u//2 AND b.q = a.v//2
         |        GROUP BY 1),
         |lg2 AS (SELECT k, SUM(g2) AS gs FROM lp2 GROUP BY 1),
         |la0 AS (SELECT k, image_id, CAST(COUNT(*) AS BIGINT) AS n_l0,
         |          CAST(SUM(a) AS BIGINT) AS l0_abs_sum,
         |          CAST(MAX(a) AS BIGINT) AS l0_max
         |        FROM ll0 GROUP BY 1, 2)
         |SELECT z.image_id, z.n_l0, z.l0_abs_sum, z.l0_max,
         |  CAST(o.s1 AS BIGINT) AS l1_abs_sum,
         |  CAST(g.gs AS BIGINT) AS g2_sum
         |FROM la0 z JOIN ll1 o ON o.k = z.k JOIN lg2 g ON g.k = z.k
         |ORDER BY z.image_id""".stripMargin,

    // min-plus scatter flood of the chamfer cost distance: each round
    // re-emits every reached cell with MIN(stay, neighbor + step);
    // the bound (96) exceeds the longest optimal path's hop count on
    // these rasters — extra rounds are no-ops once converged
    "q_cost_distance" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte,
         |cdo(dx, dy, wm) AS (VALUES (0,0,0),(1,0,2),(0,1,2),(-1,0,2),
         |  (0,-1,2),(1,1,3),(1,-1,3),(-1,1,3),(-1,-1,3)),
         |cdl AS (SELECT k, x, y, 1 + z % 2 AS c, z % 19 = 0 AS src
         |        FROM demp),
         |cdf(k, x, y, c, dist, it) AS (
         |  SELECT k, x, y, c, CAST(0 AS BIGINT), 0 FROM cdl WHERE src
         |  UNION ALL
         |  SELECT u.k, u.x, u.y, u.c, u.dist, u.it + 1 FROM (
         |    SELECT t.k, t.x + o.dx AS x, t.y + o.dy AS y, m.c AS c,
         |      MIN(t.dist + CASE WHEN o.wm = 0 THEN 0
         |          ELSE o.wm * (t.c + m.c) END) AS dist,
         |      MAX(t.it) AS it
         |    FROM cdf t JOIN cdo o ON TRUE
         |    JOIN cdl m ON m.k = t.k AND m.x = t.x + o.dx
         |      AND m.y = t.y + o.dy
         |    GROUP BY 1, 2, 3, 4
         |  ) u WHERE u.it < 96),
         |cdr AS (SELECT k, x, y, dist FROM cdf WHERE it = 96),
         |cda AS (SELECT k,
         |    CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_src,
         |    CAST(COUNT(*) AS BIGINT) AS n_reached,
         |    CAST(SUM(dist) AS BIGINT) AS dist_sum,
         |    CAST(MAX(dist) AS BIGINT) AS dist_max,
         |    CAST(SUM(dist*dist) AS BIGINT) AS dist_sq_sum
         |  FROM cdr GROUP BY 1)
         |SELECT s.image_id, a.n_src, a.n_reached, a.dist_sum,
         |  a.dist_max, a.dist_sq_sum
         |FROM cda a JOIN simg s ON s.k = a.k
         |ORDER BY 1""".stripMargin,

    // an edge crosses a level iff (z1 < L) ≠ (z2 < L); zero-crossing
    // (image, level) pairs still emit a row, hence the left join
    "q_contours" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |cl AS (SELECT unnest([500, 1000, 1500]) AS level),
         |ccr AS (
         |  SELECT a.k, l.level, 1 AS ish, a.x, a.y
         |  FROM demp a JOIN demp b ON b.k = a.k AND b.x = a.x + 1
         |    AND b.y = a.y
         |  CROSS JOIN cl l WHERE (a.z < l.level) <> (b.z < l.level)
         |  UNION ALL
         |  SELECT a.k, l.level, 0 AS ish, a.x, a.y
         |  FROM demp a JOIN demp b ON b.k = a.k AND b.x = a.x
         |    AND b.y = a.y + 1
         |  CROSS JOIN cl l WHERE (a.z < l.level) <> (b.z < l.level)),
         |cagg AS (SELECT k, level, SUM(ish) AS n_h, SUM(1 - ish) AS n_v,
         |           SUM(x + 131*y) AS chk
         |         FROM ccr GROUP BY 1, 2)
         |SELECT s.image_id, CAST(l.level AS BIGINT) AS level,
         |  CAST(COALESCE(a.n_h, 0) AS BIGINT) AS n_h,
         |  CAST(COALESCE(a.n_v, 0) AS BIGINT) AS n_v,
         |  CAST(COALESCE(a.chk, 0) AS BIGINT) AS chk
         |FROM simg s CROSS JOIN cl l
         |LEFT JOIN cagg a ON a.k = s.k AND a.level = l.level
         |ORDER BY s.image_id, l.level""".stripMargin,

    // central-difference gradients (the 4 neighbor joins enforce the
    // interior), 3×3 structure tensor, then the all-integer response
    "q_harris" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |hgx AS (SELECT a.k, a.image_id, a.w, a.h, a.x, a.y,
         |          b.z - c.z AS gx, d.z - e.z AS gy
         |        FROM demp a
         |        JOIN demp b ON b.k = a.k AND b.x = a.x + 1 AND b.y = a.y
         |        JOIN demp c ON c.k = a.k AND c.x = a.x - 1 AND c.y = a.y
         |        JOIN demp d ON d.k = a.k AND d.x = a.x AND d.y = a.y + 1
         |        JOIN demp e ON e.k = a.k AND e.x = a.x AND e.y = a.y - 1),
         |hto AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |htn AS (SELECT p.k, p.image_id, p.x, p.y,
         |          SUM(g.gx*g.gx) AS sxx, SUM(g.gy*g.gy) AS syy,
         |          SUM(g.gx*g.gy) AS sxy
         |        FROM demp p JOIN hto o ON TRUE
         |        JOIN hgx g ON g.k = p.k AND g.x = p.x + o.dx
         |          AND g.y = p.y + o.dy
         |        WHERE p.x >= 2 AND p.x <= p.w-3
         |          AND p.y >= 2 AND p.y <= p.h-3
         |        GROUP BY 1, 2, 3, 4),
         |hrr AS (SELECT k, image_id,
         |          25*(sxx*syy - sxy*sxy) - (sxx+syy)*(sxx+syy) AS r25
         |        FROM htn)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CASE WHEN r25 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_corner,
         |  CAST(SUM(LEAST(GREATEST(r25, -1000000), 1000000)) AS BIGINT)
         |    AS chk
         |FROM hrr GROUP BY 1 ORDER BY 1""".stripMargin,

    // bit d set iff neighbor_d ≥ center, D8 code order
    "q_lbp" ->
      s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |lbc AS (SELECT c.k, c.image_id, c.x, c.y,
         |          SUM(CASE WHEN n.z >= c.z
         |            THEN (CAST(1 AS BIGINT) << d.code) ELSE 0 END) AS lbp
         |        FROM demp c JOIN d8 d ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |          AND n.y = c.y + d.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(lbp AS BIGINT) AS lbp,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM lbc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // median of 9 integers = the discrete 0.5-quantile (odd count, no
    // interpolation) — QUANTILE_DISC mirrors the kernel's 5th-smallest
    "q_median_filter" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |mfo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |mfm AS (SELECT d.k, d.image_id, d.x, d.y, d.z,
         |          QUANTILE_DISC(n.z, 0.5) AS med
         |        FROM demp d JOIN mfo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, 5)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(med) AS BIGINT) AS med_sum,
         |  CAST(SUM(CASE WHEN med <> z THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed,
         |  CAST(SUM(med*(x + 131*y)) AS BIGINT) AS chk
         |FROM mfm GROUP BY image_id ORDER BY image_id""".stripMargin,

    // Lee sigma replay: 3×3 scatter join, FILTER on |n.z − center| ≤
    // 120, floor divide (non-negative operands)
    "q_lee_filter" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |lfo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |lfm AS (SELECT d.k, d.image_id, d.x, d.y, d.z,
         |          CAST(SUM(n.z) FILTER (WHERE abs(n.z - d.z) <= 120)
         |            AS BIGINT) AS s,
         |          CAST(COUNT(*) FILTER (WHERE abs(n.z - d.z) <= 120)
         |            AS BIGINT) AS m
         |        FROM demp d JOIN lfo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, 5),
         |lfr AS (SELECT image_id, x, y, z, s // m AS outv FROM lfm)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(outv) AS BIGINT) AS out_sum,
         |  CAST(SUM(CASE WHEN outv <> z THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_smoothed,
         |  CAST(SUM(outv*(x + 131*y)) AS BIGINT) AS chk
         |FROM lfr GROUP BY image_id ORDER BY image_id""".stripMargin,

    // SSIM replay: 3×3 box floor-mean per interior pixel, 8×8 block
    // sums, n²-scaled SSIM with the num·10⁶ step in HUGEINT (// is
    // floor division — the kernel floor-adjusts its BigInt divide)
    "q_ssim" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |sso AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |ssp AS (SELECT d.k, d.image_id, d.x, d.y, d.z AS a,
         |          CAST(SUM(n.z) AS BIGINT) // 9 AS b
         |        FROM demp d JOIN sso o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, 5),
         |ssb AS (SELECT k, image_id, (x-1)//8 AS bx, (y-1)//8 AS by,
         |          CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(a) AS BIGINT) AS sa,
         |          CAST(SUM(b) AS BIGINT) AS sb,
         |          CAST(SUM(a*a) AS BIGINT) AS saa,
         |          CAST(SUM(b*b) AS BIGINT) AS sbb,
         |          CAST(SUM(a*b) AS BIGINT) AS sab
         |        FROM ssp GROUP BY 1, 2, 3, 4),
         |ssv AS (SELECT image_id, bx, by,
         |          CAST(((2*CAST(sa AS HUGEINT)*sb + 419*4096)
         |             * (2*(64*CAST(sab AS HUGEINT) - CAST(sa AS HUGEINT)*sb)
         |                + 3775*4096) * 1000000)
         |            // ((CAST(sa AS HUGEINT)*sa + CAST(sb AS HUGEINT)*sb
         |                + 419*4096)
         |               * ((64*CAST(saa AS HUGEINT) - CAST(sa AS HUGEINT)*sa)
         |                + (64*CAST(sbb AS HUGEINT) - CAST(sb AS HUGEINT)*sb)
         |                + 3775*4096)) AS BIGINT) AS v
         |        FROM ssb WHERE n = 64)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(v) AS BIGINT) AS ssim_sum,
         |  CAST(COALESCE(MIN(v), 0) AS BIGINT) AS ssim_min,
         |  CAST(SUM(v*(bx + 31*by)) AS BIGINT) AS chk
         |FROM ssv GROUP BY image_id ORDER BY image_id""".stripMargin,

    // coherence replay: the same gradient scatter join, 8×8 block
    // tensor sums, HUGEINT for the num·10⁶ step
    "q_coherence" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |chg AS (SELECT d.k, d.image_id, d.x, d.y,
         |          nx.z - px.z AS gx, ny.z - py.z AS gy
         |        FROM demp d
         |        JOIN demp nx ON nx.k = d.k AND nx.x = d.x+1 AND nx.y = d.y
         |        JOIN demp px ON px.k = d.k AND px.x = d.x-1 AND px.y = d.y
         |        JOIN demp ny ON ny.k = d.k AND ny.x = d.x AND ny.y = d.y+1
         |        JOIN demp py ON py.k = d.k AND py.x = d.x AND py.y = d.y-1
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2),
         |chb AS (SELECT k, image_id, (x-1)//8 AS bx, (y-1)//8 AS by,
         |          CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(gx*gx) AS BIGINT) AS a,
         |          CAST(SUM(gy*gy) AS BIGINT) AS b,
         |          CAST(SUM(gx*gy) AS BIGINT) AS c
         |        FROM chg GROUP BY 1, 2, 3, 4),
         |chv AS (SELECT image_id, bx, by,
         |          CASE WHEN a + b = 0 THEN 0 ELSE
         |            CAST((CAST((a-b)*(a-b) + 4*c*c AS HUGEINT) * 1000000)
         |              // (CAST(a+b AS HUGEINT) * (a+b)) AS BIGINT)
         |          END AS v
         |        FROM chb WHERE n = 64)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(v) AS BIGINT) AS coh_sum,
         |  CAST(COALESCE(MAX(v), 0) AS BIGINT) AS coh_max,
         |  CAST(SUM(v*(bx + 31*by)) AS BIGINT) AS chk
         |FROM chv GROUP BY image_id ORDER BY image_id""".stripMargin,

    // HOG replay: central-difference gradients via four shifted
    // self-joins, the octant sign/compare ladder, L1 magnitude
    "q_hog" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |hgg AS (SELECT d.k, d.image_id,
         |          nx.z - px.z AS gx, ny.z - py.z AS gy
         |        FROM demp d
         |        JOIN demp nx ON nx.k = d.k AND nx.x = d.x+1 AND nx.y = d.y
         |        JOIN demp px ON px.k = d.k AND px.x = d.x-1 AND px.y = d.y
         |        JOIN demp ny ON ny.k = d.k AND ny.x = d.x AND ny.y = d.y+1
         |        JOIN demp py ON py.k = d.k AND py.x = d.x AND py.y = d.y-1
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2),
         |hgo AS (SELECT image_id,
         |          CASE
         |            WHEN gx = 0 AND gy = 0 THEN 8
         |            WHEN gx > 0 AND gy >= 0 AND gy < gx THEN 0
         |            WHEN gx > 0 AND gy >= gx THEN 1
         |            WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
         |            WHEN gx < 0 AND gy > 0 AND gy <= -gx THEN 3
         |            WHEN gx < 0 AND gy <= 0 AND gy > gx THEN 4
         |            WHEN gx < 0 AND gy <= gx THEN 5
         |            WHEN gy < 0 AND gx >= 0 AND gx < -gy THEN 6
         |            ELSE 7 END AS oct,
         |          abs(gx) + abs(gy) AS m
         |        FROM hgg)
         |SELECT image_id, CAST(oct AS BIGINT) AS octant,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(m) AS BIGINT) AS mag_sum
         |FROM hgo WHERE oct < 8
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // dilate − erode = window max − min, interior pixels
    "q_morph_gradient" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |mgo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |mgg AS (SELECT d.k, d.image_id, d.x, d.y,
         |          MAX(n.z) - MIN(n.z) AS grad
         |        FROM demp d JOIN mgo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(grad) AS BIGINT) AS grad_sum,
         |  CAST(MAX(grad) AS BIGINT) AS grad_max,
         |  CAST(SUM(grad*(x + 131*y)) AS BIGINT) AS chk
         |FROM mgg GROUP BY image_id ORDER BY image_id""".stripMargin,

    // opening = dilate3×3 of the erode3×3 plane; top-hat = z − opening
    // on the 5×5 support (x,y ∈ [2, w−3]) — every erode cell a dilate
    // window touches is itself interior, so the two levels compose
    "q_tophat" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |tho AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |the AS (SELECT d.k, d.x, d.y, MIN(n.z) AS e
         |        FROM demp d JOIN tho o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3),
         |thp AS (SELECT d.k, d.image_id, d.x, d.y,
         |          d.z - MAX(e.e) AS th
         |        FROM demp d JOIN tho o ON TRUE
         |        JOIN the e ON e.k = d.k AND e.x = d.x + o.dx
         |          AND e.y = d.y + o.dy
         |        WHERE d.x >= 2 AND d.x <= d.w-3
         |          AND d.y >= 2 AND d.y <= d.h-3
         |        GROUP BY d.k, d.image_id, d.x, d.y, d.z)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(th) AS BIGINT) AS th_sum,
         |  CAST(SUM(CASE WHEN th > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  CAST(SUM(th*(x + 131*y)) AS BIGINT) AS chk
         |FROM thp GROUP BY image_id ORDER BY image_id""".stripMargin,

    // tpi8 = 8·z − Σ neighbors (divide-free), tri = Σ |z − neighbor|
    "q_tpi" ->
      s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |tpn AS (SELECT c.k, c.image_id, c.x, c.y,
         |          8*c.z - SUM(n.z) AS tpi, SUM(ABS(c.z - n.z)) AS tri
         |        FROM demp c JOIN d8 d ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |          AND n.y = c.y + d.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY c.k, c.image_id, c.x, c.y, c.z)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(CASE WHEN tpi > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ridge,
         |  CAST(SUM(CASE WHEN tpi < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_valley,
         |  CAST(SUM(tpi) AS BIGINT) AS tpi_sum,
         |  CAST(SUM(tri) AS BIGINT) AS tri_sum
         |FROM tpn GROUP BY image_id ORDER BY image_id""".stripMargin,

    // the 8×8 template is the k=911 DEM patch (same closed form);
    // num/den are exact integers, score = floor(num/√den·10⁶) is
    // three identically-ordered IEEE roundings; argmax via struct MAX
    // (lexicographic in both engines), ties → lowest y then x
    "q_template_match" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |tmt AS (SELECT i.i, j.j,
         |          100 + ((911%7+1)*i.i*i.i + (911%5+1)*j.j*j.j
         |               + (911%3+1)*i.i*j.j
         |               + ((911*3)%11)*i.i + ((911*7)%13)*j.j) % 1900 AS t
         |        FROM (SELECT unnest(generate_series(0, 7)) AS i) i,
         |             (SELECT unnest(generate_series(0, 7)) AS j) j),
         |tms AS (SELECT SUM(t) AS st FROM tmt),
         |tmp0 AS (SELECT s.k, s.image_id, xs.x0, ys.y0
         |         FROM simg s
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |           CAST(s.w-8 AS INT))) AS x0) xs
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |           CAST(s.h-8 AS INT))) AS y0) ys),
         |tmw AS (SELECT p.k, p.image_id, p.x0, p.y0,
         |          SUM(n.z) AS sz, SUM(n.z*n.z) AS szz,
         |          SUM(t.t*n.z) AS stz
         |        FROM tmp0 p JOIN tmt t ON TRUE
         |        JOIN demp n ON n.k = p.k AND n.x = p.x0 + t.i
         |          AND n.y = p.y0 + t.j
         |        GROUP BY 1, 2, 3, 4),
         |tmc AS (SELECT w.k, w.image_id, w.x0, w.y0,
         |          64*w.stz - s.st*w.sz AS num,
         |          64*w.szz - w.sz*w.sz AS den
         |        FROM tmw w CROSS JOIN tms s),
         |tmsc AS (SELECT k, image_id, x0, y0,
         |           CAST(FLOOR(num / sqrt(CAST(den AS DOUBLE)) * 1e6)
         |             AS BIGINT) AS s
         |         FROM tmc WHERE den > 0),
         |tmb AS (SELECT image_id,
         |          (MAX(struct_pack(s := s, ny := -y0, nx := -x0))).s
         |            AS score,
         |          -(MAX(struct_pack(s := s, ny := -y0, nx := -x0))).nx
         |            AS best_x,
         |          -(MAX(struct_pack(s := s, ny := -y0, nx := -x0))).ny
         |            AS best_y,
         |          COUNT(*) AS n_cand
         |        FROM tmsc GROUP BY 1)
         |SELECT image_id, CAST(best_x AS BIGINT) AS best_x,
         |  CAST(best_y AS BIGINT) AS best_y,
         |  CAST(score AS BIGINT) AS score,
         |  CAST(n_cand AS BIGINT) AS n_cand
         |FROM tmb ORDER BY image_id""".stripMargin,

    // integer-DDA sample cell (⌊(2·s·t+m)/(2m)⌋ = round-half-up on the
    // ideal line, all coords ≥ 0) + cross-multiplied slope test — no
    // division anywhere; m=1 targets have no samples (LEFT JOIN)
    "q_viewshed" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |vo AS (SELECT k, z + 2 AS zo FROM demp WHERE x = 0 AND y = 0),
         |vt AS (SELECT d.k, d.image_id, d.x AS tx, d.y AS ty,
         |         d.z AS zt, GREATEST(d.x, d.y) AS m
         |       FROM demp d WHERE NOT (d.x = 0 AND d.y = 0)),
         |vs AS (SELECT t.k, t.tx, t.ty, t.zt, t.m, o.zo, ss.s,
         |         (2*ss.s*t.tx + t.m) // (2*t.m) AS sx,
         |         (2*ss.s*t.ty + t.m) // (2*t.m) AS sy
         |       FROM vt t JOIN vo o ON o.k = t.k
         |       CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
         |         CAST(t.m-1 AS INT))) AS s) ss),
         |vb AS (SELECT v.k, v.tx, v.ty,
         |         BOOL_OR((n.z - v.zo)*v.m > (v.zt - v.zo)*v.s)
         |           AS blocked
         |       FROM vs v JOIN demp n ON n.k = v.k AND n.x = v.sx
         |         AND n.y = v.sy
         |       GROUP BY 1, 2, 3),
         |vr AS (SELECT t.k, t.image_id, t.tx, t.ty,
         |         COALESCE(b.blocked, FALSE) AS blocked
         |       FROM vt t LEFT JOIN vb b ON b.k = t.k AND b.tx = t.tx
         |         AND b.ty = t.ty)
         |SELECT image_id,
         |  CAST(SUM(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_vis,
         |  CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_blocked,
         |  CAST(SUM(CASE WHEN NOT blocked THEN tx + 131*ty ELSE 0 END)
         |    AS BIGINT) AS chk
         |FROM vr GROUP BY image_id ORDER BY image_id""".stripMargin,

    // edges = morph gradient ≥ 300 (the DEM's %1900 wrap curves);
    // ρ-bins: x/8, (x+y)·(√2/2)/8, y/8, (y−x)·(√2/2)/8 — √2/2 is one
    // correctly-rounded literal, the multiply the only further
    // rounding (/8 exact); winner per θ via struct MAX, ties → lowest
    // bin; a θ with zero edges emits no row (both sides)
    "q_hough" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |hgo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |hgg AS (SELECT d.k, d.image_id, d.x, d.y,
         |          MAX(n.z) - MIN(n.z) AS grad
         |        FROM demp d JOIN hgo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4),
         |hge AS (SELECT k, image_id, x, y FROM hgg WHERE grad >= 300),
         |hgr AS (SELECT k, image_id, th.theta,
         |          CASE th.theta
         |            WHEN 0 THEN CAST(FLOOR(x / 8.0) AS BIGINT)
         |            WHEN 1 THEN CAST(FLOOR((x + y) * (sqrt(2.0)/2)
         |              / 8.0) AS BIGINT)
         |            WHEN 2 THEN CAST(FLOOR(y / 8.0) AS BIGINT)
         |            ELSE CAST(FLOOR((y - x) * (sqrt(2.0)/2) / 8.0)
         |              AS BIGINT)
         |          END AS bin
         |        FROM hge CROSS JOIN (SELECT unnest([0,1,2,3])
         |          AS theta) th),
         |hga AS (SELECT k, image_id, theta, bin, COUNT(*) AS cnt
         |        FROM hgr GROUP BY 1, 2, 3, 4),
         |hgb AS (SELECT image_id, theta,
         |          (MAX(struct_pack(c := cnt, nb := -bin))).c AS votes,
         |          -(MAX(struct_pack(c := cnt, nb := -bin))).nb
         |            AS best_bin
         |        FROM hga GROUP BY 1, 2)
         |SELECT image_id, CAST(theta AS BIGINT) AS theta,
         |  CAST(best_bin AS BIGINT) AS best_bin,
         |  CAST(votes AS BIGINT) AS votes
         |FROM hgb ORDER BY image_id, theta""".stripMargin,

    // horizontal co-occurrence pairs (x, x+1); levels z//256 ∈ 0..7;
    // energy Σc² in HUGEINT then cast back
    "q_glcm" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |glv AS (SELECT k, image_id, w, x, y, z // 256 AS l FROM demp),
         |glp AS (SELECT a.k, a.image_id, a.l AS li, b.l AS lj
         |        FROM glv a JOIN glv b ON b.k = a.k AND b.y = a.y
         |          AND b.x = a.x + 1
         |        WHERE a.x <= a.w - 2),
         |glc AS (SELECT k, image_id, li, lj, COUNT(*) AS c
         |        FROM glp GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(SUM(c) AS BIGINT) AS n_pairs,
         |  CAST(SUM(c*(li-lj)*(li-lj)) AS BIGINT) AS contrast,
         |  CAST(SUM(c*ABS(li-lj)) AS BIGINT) AS dissim,
         |  CAST(SUM(CAST(c AS HUGEINT)*c) AS BIGINT) AS energy
         |FROM glc GROUP BY image_id ORDER BY image_id""".stripMargin,

    // raw moments in HUGEINT (m00·mxx ≈ 9e16 would overflow a strict
    // BIGINT product check), scaled central moments cast back; the
    // quadrant code is (sign(mu11)+1)·3 + (sign(mu20−mu02)+1)
    "q_moments" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |mmr AS (SELECT k, image_id,
         |          CAST(SUM(z) AS HUGEINT) AS m00,
         |          CAST(SUM(z*x) AS HUGEINT) AS m10,
         |          CAST(SUM(z*y) AS HUGEINT) AS m01,
         |          CAST(SUM(z*x*x) AS HUGEINT) AS mxx,
         |          CAST(SUM(z*y*y) AS HUGEINT) AS myy,
         |          CAST(SUM(z*x*y) AS HUGEINT) AS mxy
         |        FROM demp GROUP BY 1, 2),
         |mmu AS (SELECT image_id,
         |          m00*mxx - m10*m10 AS mu20,
         |          m00*myy - m01*m01 AS mu02,
         |          m00*mxy - m10*m01 AS mu11
         |        FROM mmr)
         |SELECT image_id, CAST(mu20 AS BIGINT) AS mu20s,
         |  CAST(mu02 AS BIGINT) AS mu02s,
         |  CAST(mu11 AS BIGINT) AS mu11s,
         |  CAST((CASE WHEN mu11 > 0 THEN 2 WHEN mu11 = 0 THEN 1
         |         ELSE 0 END) * 3
         |    + (CASE WHEN mu20 > mu02 THEN 2 WHEN mu20 = mu02 THEN 1
         |       ELSE 0 END) AS BIGINT) AS orient_code
         |FROM mmu ORDER BY image_id""".stripMargin,

    // per-threshold (w0, S0) prefix sums; best t = the one no rival
    // beats on the exact cross-product num²·den' > num'²·den (HUGEINT),
    // ties → lowest t (NOT EXISTS anti-join over ≤31 rivals)
    "q_otsu" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |olv AS (SELECT k, image_id, z // 64 AS l FROM demp),
         |ohc AS (SELECT k, image_id, l, COUNT(*) AS c
         |        FROM olv GROUP BY 1, 2, 3),
         |otw AS (SELECT k, image_id, SUM(c) AS wt, SUM(l*c) AS st
         |        FROM ohc GROUP BY 1, 2),
         |oth AS (SELECT w.k, w.image_id, tt.t, w.wt, w.st,
         |          (SELECT COALESCE(SUM(h.c), 0) FROM ohc h
         |           WHERE h.k = w.k AND h.l <= tt.t) AS w0,
         |          (SELECT COALESCE(SUM(h.l*h.c), 0) FROM ohc h
         |           WHERE h.k = w.k AND h.l <= tt.t) AS s0
         |        FROM otw w CROSS JOIN (SELECT unnest(
         |          generate_series(0, 30)) AS t) tt),
         |osc AS (SELECT k, image_id, t, w0,
         |          CAST(w0*st - wt*s0 AS HUGEINT) AS num,
         |          CAST(w0*(wt - w0) AS HUGEINT) AS den
         |        FROM oth WHERE w0 > 0 AND w0 < wt),
         |obt AS (SELECT s1.k, s1.image_id, s1.t, s1.w0, s1.num, s1.den
         |        FROM osc s1 WHERE NOT EXISTS (
         |          SELECT 1 FROM osc s2 WHERE s2.k = s1.k AND (
         |            s2.num*s2.num*s1.den > s1.num*s1.num*s2.den
         |            OR (s2.num*s2.num*s1.den = s1.num*s1.num*s2.den
         |                AND s2.t < s1.t))))
         |SELECT image_id, CAST(t AS BIGINT) AS t_best,
         |  CAST(w0 AS BIGINT) AS w0, CAST(num AS BIGINT) AS num,
         |  CAST(den AS BIGINT) AS den
         |FROM obt ORDER BY image_id""".stripMargin,

    // 8-neighbor greater-than-center popcount per interior pixel,
    // histogrammed; empty popcount bins emit no row (both sides)
    "q_census" ->
      s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |cpc AS (SELECT c.k, c.image_id, c.x, c.y,
         |          SUM(CASE WHEN n.z > c.z THEN 1 ELSE 0 END) AS pc
         |        FROM demp c JOIN d8 d ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |          AND n.y = c.y + d.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY c.k, c.image_id, c.x, c.y, c.z)
         |SELECT image_id, CAST(pc AS BIGINT) AS popcount,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM cpc GROUP BY 1, 2 ORDER BY image_id, popcount""".stripMargin,

    // Horn gx/gy per interior pixel → the 45°-sector ladder (verbatim
    // sign/comparison CASE, octant 8 = flat), counts + Σ gx²+gy²
    "q_grad_octants" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |goo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |gog AS (SELECT d.k, d.image_id, d.x, d.y,
         |          SUM(n.z * o.dx * (2-abs(o.dy))) AS gx,
         |          SUM(n.z * o.dy * (2-abs(o.dx))) AS gy
         |        FROM demp d JOIN goo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4),
         |goc AS (SELECT k, image_id, gx, gy,
         |          CASE
         |            WHEN gx = 0 AND gy = 0 THEN 8
         |            WHEN gx > 0 AND gy >= 0 AND gy < gx THEN 0
         |            WHEN gx > 0 AND gy >= gx THEN 1
         |            WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
         |            WHEN gx < 0 AND gy > 0 AND gy <= -gx THEN 3
         |            WHEN gx < 0 AND gy <= 0 AND gy > gx THEN 4
         |            WHEN gx < 0 AND gy <= gx THEN 5
         |            WHEN gy < 0 AND gx >= 0 AND gx < -gy THEN 6
         |            ELSE 7
         |          END AS oct
         |        FROM gog)
         |SELECT image_id, CAST(oct AS BIGINT) AS octant,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(gx*gx + gy*gy) AS BIGINT) AS mag2_sum
         |FROM goc GROUP BY 1, 2 ORDER BY image_id, octant""".stripMargin,

    // naive O(k²) 7×7 window scan — the engine's summed-area table
    // must produce the identical integers in O(1) per pixel
    "q_integral_box" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |ibo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest(generate_series(-3, 3)) AS dx) a,
         |             (SELECT unnest(generate_series(-3, 3)) AS dy) b),
         |ibs AS (SELECT c.k, c.image_id, c.x, c.y, SUM(n.z) AS bs
         |        FROM demp c JOIN ibo o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 3 AND c.x <= c.w-4
         |          AND c.y >= 3 AND c.y <= c.h-4
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(bs) AS BIGINT) AS box_sum,
         |  CAST(MAX(bs) AS BIGINT) AS box_max,
         |  CAST(SUM(bs*(x + 131*y)) AS BIGINT) AS chk
         |FROM ibs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_unsharp" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |umo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest(generate_series(-2, 2)) AS dx) a,
         |             (SELECT unnest(generate_series(-2, 2)) AS dy) b),
         |ums AS (SELECT c.k, c.image_id, c.x, c.y,
         |          2*25*ANY_VALUE(c.z) - SUM(n.z) AS u,
         |          ANY_VALUE(c.z) AS v
         |        FROM demp c JOIN umo o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 2 AND c.x <= c.w-3
         |          AND c.y >= 2 AND c.y <= c.h-3
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(u) AS BIGINT) AS u_sum,
         |  CAST(SUM(CASE WHEN u > 25*v THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_up,
         |  CAST(SUM(u*(x + 131*y)) AS BIGINT) AS chk
         |FROM ums GROUP BY 1 ORDER BY 1""".stripMargin,

    // Canny-lite: central-diff gradient, octant-axis NMS (the
    // q_grad_octants CASE ladder mod 4), double threshold, hysteresis
    // as recursive reachability from strong through the survivor set
    "q_canny" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |cg AS (SELECT c.k, c.image_id, c.x, c.y,
         |         e.z - w2.z AS gx, s2.z - n2.z AS gy
         |       FROM demp c
         |       JOIN demp e  ON e.k = c.k  AND e.x = c.x+1 AND e.y = c.y
         |       JOIN demp w2 ON w2.k = c.k AND w2.x = c.x-1 AND w2.y = c.y
         |       JOIN demp s2 ON s2.k = c.k AND s2.x = c.x AND s2.y = c.y+1
         |       JOIN demp n2 ON n2.k = c.k AND n2.x = c.x AND n2.y = c.y-1),
         |cmg AS (SELECT k, image_id, x, y, gx*gx + gy*gy AS m2,
         |         (CASE
         |            WHEN gx = 0 AND gy = 0 THEN 0
         |            WHEN gx > 0 AND gy >= 0 AND gy < gx THEN 0
         |            WHEN gx > 0 AND gy >= gx THEN 1
         |            WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
         |            WHEN gx < 0 AND gy > 0 AND gy <= -gx THEN 3
         |            WHEN gx < 0 AND gy <= 0 AND gy > gx THEN 4
         |            WHEN gx < 0 AND gy <= gx THEN 5
         |            WHEN gy < 0 AND gx >= 0 AND gx < -gy THEN 6
         |            ELSE 7
         |          END) % 4 AS axis
         |        FROM cg),
         |csur AS (SELECT c.k, c.image_id, c.x, c.y, c.m2,
         |           CASE WHEN c.m2 >= 1000000 THEN 1 ELSE 0 END AS strong
         |         FROM cmg c JOIN d8 d ON d.code = c.axis
         |         LEFT JOIN cmg nn ON nn.k = c.k AND nn.x = c.x + d.dx
         |           AND nn.y = c.y + d.dy
         |         LEFT JOIN cmg pp ON pp.k = c.k AND pp.x = c.x - d.dx
         |           AND pp.y = c.y - d.dy
         |         WHERE c.m2 >= 250000
         |           AND c.m2 > COALESCE(nn.m2, -1)
         |           AND c.m2 >= COALESCE(pp.m2, -1)),
         |creach AS (
         |  SELECT k, x, y FROM csur WHERE strong = 1
         |  UNION
         |  SELECT sv.k, sv.x, sv.y
         |  FROM creach r JOIN d8 d ON TRUE
         |  JOIN csur sv ON sv.k = r.k AND sv.x = r.x + d.dx
         |    AND sv.y = r.y + d.dy),
         |cstat AS (SELECT k, image_id, COUNT(*) AS n_nms,
         |            SUM(strong) AS n_strong FROM csur GROUP BY 1, 2),
         |cedge AS (SELECT k, COUNT(*) AS n_edge, SUM(x + 131*y) AS chk
         |          FROM creach GROUP BY 1)
         |SELECT t.image_id, CAST(t.n_nms AS BIGINT) AS n_nms,
         |  CAST(t.n_strong AS BIGINT) AS n_strong,
         |  CAST(COALESCE(e.n_edge, 0) AS BIGINT) AS n_edge,
         |  CAST(COALESCE(e.chk, 0) AS BIGINT) AS chk
         |FROM cstat t LEFT JOIN cedge e ON e.k = t.k
         |ORDER BY t.image_id""".stripMargin,

    // exhaustive 8×8-block SAD over d ∈ [−2,2]²; winner via
    // MIN(struct(sad, code)) — smallest-code tie like the kernel
    "q_block_motion" ->
      s"""WITH $I, $SimgCte,
         |mep AS (SELECT unnest([0, 3]) AS t),
         |mtv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN mep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |mv0 AS (SELECT k, x, y, v FROM mtv WHERE t = 0),
         |mv3 AS (SELECT k, x, y, v FROM mtv WHERE t = 3),
         |mblk AS (SELECT s.k, bx.v AS x0, by2.v AS y0
         |         FROM simg s
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(2,
         |           CAST(s.w-10 AS INT), 8)) AS v) bx
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(2,
         |           CAST(s.h-10 AS INT), 8)) AS v) by2),
         |mdis AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest(generate_series(-2, 2)) AS dx) a,
         |              (SELECT unnest(generate_series(-2, 2)) AS dy) b),
         |msad AS (SELECT b.k, b.x0, b.y0, d.dx, d.dy,
         |           SUM(ABS(r.v - c.v)) AS sad
         |         FROM mblk b JOIN mdis d ON TRUE
         |         JOIN mv3 r ON r.k = b.k
         |           AND r.x >= b.x0 + (b.k%5 - 2)
         |           AND r.x < b.x0 + 8 + (b.k%5 - 2)
         |           AND r.y >= b.y0 + (b.k%3 - 1)
         |           AND r.y < b.y0 + 8 + (b.k%3 - 1)
         |         JOIN mv0 c ON c.k = r.k
         |           AND c.x = r.x - (b.k%5 - 2) + d.dx
         |           AND c.y = r.y - (b.k%3 - 1) + d.dy
         |         GROUP BY 1, 2, 3, 4, 5),
         |mwin AS (SELECT k, x0, y0,
         |           (MIN(struct_pack(s := sad, c := (dy+2)*5 + (dx+2)))).s AS ws,
         |           (MIN(struct_pack(s := sad, c := (dy+2)*5 + (dx+2)))).c AS wc
         |         FROM msad GROUP BY 1, 2, 3)
         |SELECT s.image_id, CAST(wc % 5 - 2 AS BIGINT) AS dx,
         |  CAST(wc // 5 - 2 AS BIGINT) AS dy,
         |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(ws) AS BIGINT) AS sad_sum
         |FROM mwin m JOIN simg s ON s.k = m.k
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // seam DP as a strictly-increasing-y recursive CTE: row y+1's
    // min-parent via scatter + GROUP BY in the derived table
    "q_seam" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte,
         |sen AS (SELECT c.k, c.image_id, c.h, c.x, c.y,
         |          ABS(se.z - sw2.z) + ABS(ss2.z - sn2.z) AS en
         |        FROM demp c
         |        JOIN demp se  ON se.k = c.k AND se.x = c.x+1
         |          AND se.y = c.y
         |        JOIN demp sw2 ON sw2.k = c.k AND sw2.x = c.x-1
         |          AND sw2.y = c.y
         |        JOIN demp ss2 ON ss2.k = c.k AND ss2.x = c.x
         |          AND ss2.y = c.y+1
         |        JOIN demp sn2 ON sn2.k = c.k AND sn2.x = c.x
         |          AND sn2.y = c.y-1),
         |sdp AS (
         |  SELECT k, image_id, h, x, y, en AS m FROM sen WHERE y = 1
         |  UNION ALL
         |  SELECT c.k, c.image_id, c.h, c.x, c.y, c.en + c.pm AS m
         |  FROM (
         |    SELECT n.k, n.image_id, n.h, n.x, n.y, n.en, MIN(p.m) AS pm
         |    FROM sdp p JOIN sen n ON n.k = p.k AND n.y = p.y + 1
         |      AND n.x BETWEEN p.x - 1 AND p.x + 1
         |    GROUP BY 1, 2, 3, 4, 5, 6
         |  ) c),
         |sbot AS (SELECT k, x, m FROM sdp WHERE y = h - 2)
         |SELECT s.image_id, CAST(s.w - 2 AS BIGINT) AS n_cols,
         |  CAST((MIN(struct_pack(m := b.m, x := b.x))).m AS BIGINT)
         |    AS seam_cost,
         |  CAST((MIN(struct_pack(m := b.m, x := b.x))).x AS BIGINT)
         |    AS seam_x,
         |  CAST(SUM(b.m) AS BIGINT) AS dp_sum
         |FROM sbot b JOIN simg s ON s.k = b.k
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // islands pattern: run = group of consecutive x per (k, y)
    "q_rle" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |rlm AS (SELECT k, image_id, x, y FROM demp WHERE z % 7 < 3),
         |rlg AS (SELECT k, image_id, y, x,
         |          x - ROW_NUMBER() OVER (PARTITION BY k, y ORDER BY x)
         |            AS grp
         |        FROM rlm),
         |rlr AS (SELECT k, image_id, y, MIN(x) AS x0, COUNT(*) AS len
         |        FROM rlg GROUP BY k, image_id, y, grp)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
         |  CAST(MAX(len) AS BIGINT) AS max_run,
         |  CAST(SUM(len*len) AS BIGINT) AS len_sq_sum,
         |  CAST(SUM(len*(x0 + 131*y)) AS BIGINT) AS chk
         |FROM rlr GROUP BY 1 ORDER BY 1""".stripMargin,

    // border-background reachability via recursive 4-adjacency;
    // holes = background minus the reachable set (anti-join)
    "q_fill_holes" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte,
         |d4 AS (SELECT * FROM (VALUES (1,0),(-1,0),(0,1),(0,-1))
         |  AS t(dx, dy)),
         |hbg AS (SELECT k, image_id, w, h, x, y FROM demp
         |        WHERE z % 7 >= 3),
         |hreach AS (
         |  SELECT k, x, y FROM hbg
         |  WHERE x = 0 OR y = 0 OR x = w-1 OR y = h-1
         |  UNION
         |  SELECT b.k, b.x, b.y
         |  FROM hreach r JOIN d4 d ON TRUE
         |  JOIN hbg b ON b.k = r.k AND b.x = r.x + d.dx
         |    AND b.y = r.y + d.dy),
         |hstat AS (SELECT k, image_id FROM hbg GROUP BY 1, 2),
         |hop AS (SELECT k, COUNT(*) AS n_open FROM hreach GROUP BY 1),
         |hho AS (SELECT b.k, COUNT(*) AS n_hole,
         |          SUM(b.x + 131*b.y) AS chk
         |        FROM hbg b LEFT JOIN hreach r ON r.k = b.k
         |          AND r.x = b.x AND r.y = b.y
         |        WHERE r.x IS NULL GROUP BY 1)
         |SELECT t.image_id,
         |  CAST(COALESCE(h2.n_hole, 0) AS BIGINT) AS n_hole_px,
         |  CAST(COALESCE(o.n_open, 0) AS BIGINT) AS n_bg_open,
         |  CAST(COALESCE(h2.chk, 0) AS BIGINT) AS chk
         |FROM hstat t LEFT JOIN hop o ON o.k = t.k
         |LEFT JOIN hho h2 ON h2.k = t.k
         |ORDER BY t.image_id""".stripMargin,

    // region quadtree: per level m the node is uniform iff min=max
    // over the padded 64×64 grid; leaf = uniform with mixed parent
    "q_quadtree" ->
      s"""WITH $I, $SimgCte, $DemCte,
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
         |FROM qleaf GROUP BY 1 ORDER BY 1""".stripMargin,

    // all-pairs proximity edges + 3-way join triangles (the oracle
    // may be quadratic; the engine may not)
    "q_triangles" ->
      s"""WITH $I,
         |tre AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |ttr AS (SELECT e1.ka AS a, e1.kb AS b, e2.kb AS c
         |        FROM tre e1 JOIN tre e2 ON e2.ka = e1.ka
         |          AND e2.kb > e1.kb
         |        JOIN tre e3 ON e3.ka = e1.kb AND e3.kb = e2.kb)
         |SELECT CAST((SELECT COUNT(*) FROM tre) AS BIGINT) AS n_edges,
         |  CAST(COUNT(*) AS BIGINT) AS n_triangles,
         |  CAST(COALESCE(SUM(a + b + c), 0) AS BIGINT) AS chk
         |FROM ttr""".stripMargin,

    // integer PageRank ground truth: the same rect-overlap edge set,
    // both directions, 3 unrolled rounds of
    // pr' = 150000 + (85 · Σ (pr // deg)) // 100 at scale 10^6
    "q_pagerank" ->
      s"""WITH $I,
         |pg0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |pge AS (SELECT ka AS src, kb AS dst FROM pg0
         |        UNION ALL SELECT kb, ka FROM pg0),
         |pgd AS (SELECT src, COUNT(*) AS deg FROM pge GROUP BY 1),
         |pr0 AS (SELECT src AS nd, CAST(1000000 AS BIGINT) AS pr
         |        FROM pgd),
         |pc1 AS (SELECT e.dst AS nd, SUM(p.pr // d.deg) AS s
         |        FROM pge e JOIN pr0 p ON p.nd = e.src
         |        JOIN pgd d ON d.src = e.src GROUP BY 1),
         |pr1 AS (SELECT p.nd,
         |          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
         |            AS BIGINT) AS pr
         |        FROM pr0 p LEFT JOIN pc1 c ON c.nd = p.nd),
         |pc2 AS (SELECT e.dst AS nd, SUM(p.pr // d.deg) AS s
         |        FROM pge e JOIN pr1 p ON p.nd = e.src
         |        JOIN pgd d ON d.src = e.src GROUP BY 1),
         |pr2 AS (SELECT p.nd,
         |          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
         |            AS BIGINT) AS pr
         |        FROM pr1 p LEFT JOIN pc2 c ON c.nd = p.nd),
         |pc3 AS (SELECT e.dst AS nd, SUM(p.pr // d.deg) AS s
         |        FROM pge e JOIN pr2 p ON p.nd = e.src
         |        JOIN pgd d ON d.src = e.src GROUP BY 1),
         |pr3 AS (SELECT p.nd,
         |          CAST(150000 + (85 * COALESCE(c.s, 0)) // 100
         |            AS BIGINT) AS pr
         |        FROM pr2 p LEFT JOIN pc3 c ON c.nd = p.nd)
         |SELECT CAST(nd AS BIGINT) AS v, pr FROM pr3
         |ORDER BY 1""".stripMargin,

    // Moran / join-count ground truth: n-scaled deviations d = n·x−Σx
    // over the same rect-overlap edges; num = Σ d_a·d_b per edge,
    // den = Σ d², BB/WW/BW tallies on the binary attribute
    "q_moran" ->
      s"""WITH $I,
         |mre AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
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
         |FROM mej""".stripMargin,

    // Gi* pieces: bin counts on the doubled-centroid eps grid, then
    // a 3x3 bin-key band join for the neighborhood sum (empty bins
    // contribute 0, so summing non-empty neighbors is exact)
    "q_hotspot" ->
      s"""WITH $I,
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
         |ORDER BY 1, 2""".stripMargin,

    // 2-hop reach ground truth: all-pairs padded-bbox edges (same
    // fixture as q_moran), symmetrized, one middle-vertex self-join,
    // distinct union with the direct edges, self excluded
    "q_two_hop" ->
      s"""WITH $I,
         |the AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |thd AS (SELECT ka AS src, kb AS dst FROM the
         |        UNION ALL SELECT kb AS src, ka AS dst FROM the),
         |th1 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n1
         |        FROM thd GROUP BY 1),
         |th2 AS (SELECT DISTINCT src, dst FROM (
         |          SELECT a.src AS src, b.dst AS dst
         |          FROM thd a JOIN thd b ON b.src = a.dst
         |          WHERE a.src <> b.dst
         |          UNION ALL SELECT src, dst FROM thd) thu),
         |thc AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n2
         |        FROM th2 GROUP BY 1)
         |SELECT t.src AS v, t.n1, c.n2
         |FROM th1 t JOIN thc c ON c.src = t.src
         |ORDER BY v""".stripMargin,

    // k-core ground truth: all-pairs padded-bbox edges (same fixture
    // as q_two_hop), symmetrized, then the synchronous peel unrolled
    // as KCoreRounds chained survivor CTEs; final degree within the
    // last survivor set
    "q_kcore" ->
      s"""WITH $I,
         |kc0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |kce AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM kc0
         |        UNION ALL SELECT kb, ka FROM kc0),
         |ks0 AS MATERIALIZED (SELECT DISTINCT src FROM kce),
         |${kcorePeelSql(3, KCoreRounds)}
         |SELECT CAST(e.src AS BIGINT) AS v,
         |  CAST(COUNT(*) AS BIGINT) AS coredeg
         |FROM kce e JOIN ks$KCoreRounds a ON a.src = e.src
         |JOIN ks$KCoreRounds b ON b.src = e.dst
         |GROUP BY 1 HAVING COUNT(*) >= 3
         |ORDER BY 1""".stripMargin,

    // label-propagation replay: same bbox-overlap edges, LabelPropRounds
    // unrolled vote rounds (count per (node, label), argmax by
    // (count desc, label asc) via ROW_NUMBER)
    "q_label_prop" ->
      s"""WITH $I,
         |lq0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |lpe AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM lq0
         |        UNION ALL SELECT kb, ka FROM lq0),
         |lp0 AS (SELECT DISTINCT src AS v, src AS lab FROM lpe),
         |${labelPropRoundsSql(LabelPropRounds)}
         |SELECT CAST(v AS BIGINT) AS v, CAST(lab AS BIGINT) AS lab
         |FROM lp$LabelPropRounds ORDER BY 1""".stripMargin,

    // link-prediction replay: wedge join at the middle vertex over the
    // same directed edges, anti-join vs the canonical pair list, exact
    // integer scaled Jaccard, identical total-order top-40
    "q_link_pred" ->
      s"""WITH $I,
         |lk0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |lke AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM lk0
         |        UNION ALL SELECT kb, ka FROM lk0),
         |lkd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM lke GROUP BY 1),
         |lkw AS (SELECT e1.dst AS a, e2.dst AS b,
         |          CAST(COUNT(*) AS BIGINT) AS cn
         |        FROM lke e1 JOIN lke e2 ON e2.src = e1.src
         |          AND e1.dst < e2.dst
         |        GROUP BY 1, 2),
         |lkc AS (SELECT w.a, w.b, w.cn FROM lkw w
         |        LEFT JOIN lk0 e ON e.ka = w.a AND e.kb = w.b
         |        WHERE e.ka IS NULL)
         |SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
         |  c.cn, da.deg AS da, db.deg AS db,
         |  CAST((1000000 * c.cn) // (da.deg + db.deg - c.cn) AS BIGINT)
         |    AS jacc_scaled
         |FROM lkc c JOIN lkd da ON da.src = c.a
         |JOIN lkd db ON db.src = c.b
         |ORDER BY jacc_scaled DESC, cn DESC, a, b LIMIT 40""".stripMargin,

    // degree-distribution replay over the same bbox-overlap edges
    "q_degree_dist" ->
      s"""WITH $I,
         |dd0 AS (SELECT a.k AS ka, b.k AS kb FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |ddd AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |         (SELECT ka AS v FROM dd0
         |          UNION ALL SELECT kb FROM dd0) GROUP BY 1)
         |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM ddd GROUP BY 1 ORDER BY 1""".stripMargin,

    // mixture-Gini replay: per-class counts, n²-scaled impurity
    "q_gini_mix" ->
      """WITH gmc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM documents GROUP BY 1),
        |gmt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |          CAST(COUNT(*) AS BIGINT) AS n_langs,
        |          CAST(SUM(c*c) AS BIGINT) AS ss FROM gmc)
        |SELECT n AS n_docs, n_langs,
        |  CAST(((n * n - ss) * 1000000) // (n * n) AS BIGINT)
        |    AS gini_scaled
        |FROM gmt""".stripMargin,

    // clustering-coefficient replay: id-ordered triple join finds
    // each triangle once (orientation-free ground truth), corners
    // credited via unnest, same floor formula
    "q_clustering_coef" ->
      s"""WITH $I,
         |cc0 AS (SELECT a.k AS u, b.k AS v FROM img2 a JOIN img2 b
         |        ON b.k > a.k
         |        AND a.x0m - 3000 < b.x1m + 3000
         |        AND b.x0m - 3000 < a.x1m + 3000
         |        AND a.y0m - 3000 < b.y1m + 3000
         |        AND b.y0m - 3000 < a.y1m + 3000),
         |ccd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |         (SELECT u AS src FROM cc0
         |          UNION ALL SELECT v FROM cc0) GROUP BY 1),
         |cct AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |        FROM cc0 e1 JOIN cc0 e2 ON e2.u = e1.v
         |        JOIN cc0 e3 ON e3.u = e1.u AND e3.v = e2.v),
         |ccx AS (SELECT unnest([a, b, c]) AS v FROM cct),
         |ccc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS tri
         |        FROM ccx GROUP BY 1)
         |SELECT CAST(d.src AS BIGINT) AS v, d.deg,
         |  COALESCE(c.tri, 0) AS tri,
         |  CAST(CASE WHEN d.deg < 2 THEN 0 ELSE
         |    (2 * 1000000 * COALESCE(c.tri, 0)) // (d.deg * (d.deg - 1))
         |    END AS BIGINT) AS coef_scaled
         |FROM ccd d LEFT JOIN ccc c ON c.v = d.src
         |ORDER BY 1""".stripMargin,

    // union area ground truth: same slab decomposition in SQL —
    // clip to cells, LEAD slabs, running-max island walk per slab;
    // half-open boxes so area = Σ ylen·(sx1−sx0) exactly
    "q_union_area" ->
      s"""WITH $I,
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
         |ORDER BY 1, 2""".stripMargin,

    // nearest hex-lattice center by integer squared distance in
    // doubled centroid space; ties → lexicographic (i, j)
    "q_hex_rollup" ->
      s"""WITH $I,
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
         |FROM hxa GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // DBSCAN ground truth: all-pairs eps-ball neighbors, core test
    // |N| + 1 >= minPts, transitive-closure reach over core-core
    // edges (cluster = min core id), border = min cluster among
    // core neighbors, else noise (-1)
    "q_dbscan" ->
      s"""WITH RECURSIVE $I,
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
         |ORDER BY p.k""".stripMargin,

    // KMV: k-th smallest distinct md5 per source (k = 8) + exact
    // distinct count; md5 hex order == numeric order in both engines
    "q_kmv_distinct" ->
      s"""WITH dh AS (SELECT DISTINCT source, md5(text) AS h
         |            FROM documents),
         |rk AS (SELECT source, h,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |       FROM dh),
         |nd AS (SELECT source, COUNT(*) AS n_distinct FROM dh GROUP BY 1)
         |SELECT n.source, CAST(n.n_distinct AS BIGINT) AS n_distinct,
         |  r.h AS kth_hash
         |FROM nd n JOIN rk r ON r.source = n.source AND r.rn = 8
         |ORDER BY 1""".stripMargin,

    // naive 5×5 window sums of z and z²; V = 25·Σz² − (Σz)²
    "q_local_stats" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |lso AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest(generate_series(-2, 2)) AS dx) a,
         |             (SELECT unnest(generate_series(-2, 2)) AS dy) b),
         |lsb AS (SELECT c.k, c.image_id, c.x, c.y, c.z,
         |          SUM(n.z) AS s1, SUM(n.z*n.z) AS s2
         |        FROM demp c JOIN lso o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 2 AND c.x <= c.w-3
         |          AND c.y >= 2 AND c.y <= c.h-3
         |        GROUP BY 1, 2, 3, 4, 5),
         |lsv AS (SELECT k, image_id, x, y, 25*s2 - s1*s1 AS v,
         |          CASE WHEN 25*z > s1 THEN 1 ELSE 0 END AS ab
         |        FROM lsb)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(ab) AS BIGINT) AS n_above,
         |  CAST(SUM(v) AS BIGINT) AS var_sum,
         |  CAST(MAX(v) AS BIGINT) AS var_max,
         |  CAST(SUM(v*(x + 131*y)) % 1099511627776 AS BIGINT) AS chk
         |FROM lsv GROUP BY 1 ORDER BY 1""".stripMargin,

    // circular contiguity via doubled bitstring LIKE; the circle is
    // the same 16-offset table as the kernel
    "q_fast" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |fco AS (SELECT * FROM (VALUES
         |  (0,0,-3),(1,1,-3),(2,2,-2),(3,3,-1),(4,3,0),(5,3,1),
         |  (6,2,2),(7,1,3),(8,0,3),(9,-1,3),(10,-2,2),(11,-3,1),
         |  (12,-3,0),(13,-3,-1),(14,-2,-2),(15,-1,-3))
         |  AS t(i, dx, dy)),
         |fcb AS (SELECT c.k, c.image_id, c.x, c.y, o.i,
         |          CASE WHEN n.z >= c.z + 100 THEN '1' ELSE '0' END AS bb,
         |          CASE WHEN n.z <= c.z - 100 THEN '1' ELSE '0' END AS db
         |        FROM demp c JOIN fco o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 3 AND c.x <= c.w-4
         |          AND c.y >= 3 AND c.y <= c.h-4),
         |fcs AS (SELECT k, image_id, x, y,
         |          string_agg(bb, '' ORDER BY i) AS bstr,
         |          string_agg(db, '' ORDER BY i) AS dstr
         |        FROM fcb GROUP BY 1, 2, 3, 4),
         |fcc AS (SELECT k, image_id, x, y FROM fcs
         |        WHERE (bstr || bstr) LIKE '%111111111%'
         |           OR (dstr || dstr) LIKE '%111111111%'),
         |fne AS (SELECT k, image_id, COUNT(*) AS n_eval
         |        FROM fcs GROUP BY 1, 2),
         |fnc AS (SELECT k, COUNT(*) AS n_corners,
         |          SUM(x + 131*y) AS chk FROM fcc GROUP BY 1)
         |SELECT e.image_id, CAST(e.n_eval AS BIGINT) AS n_eval,
         |  CAST(COALESCE(c.n_corners, 0) AS BIGINT) AS n_corners,
         |  CAST(COALESCE(c.chk, 0) AS BIGINT) AS chk
         |FROM fne e LEFT JOIN fnc c ON c.k = e.k
         |ORDER BY e.image_id""".stripMargin,

    // RGGB parity CASE over the 8-neighbor sums
    "q_demosaic" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |dmo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b
         |        WHERE NOT (a.dx = 0 AND b.dy = 0)),
         |dmn AS (SELECT c.k, c.image_id, c.x, c.y, c.z,
         |          SUM(CASE WHEN o.dy = 0 THEN n.z ELSE 0 END) AS horiz,
         |          SUM(CASE WHEN o.dx = 0 THEN n.z ELSE 0 END) AS vert,
         |          SUM(CASE WHEN o.dx != 0 AND o.dy != 0 THEN n.z
         |              ELSE 0 END) AS diag
         |        FROM demp c JOIN dmo o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY 1, 2, 3, 4, 5),
         |dmc AS (SELECT k, image_id, x, y,
         |          CASE WHEN x%2 = 0 AND y%2 = 0 THEN 4*z
         |               WHEN x%2 = 1 AND y%2 = 0 THEN 2*horiz
         |               WHEN x%2 = 0 AND y%2 = 1 THEN 2*vert
         |               ELSE diag END AS r4,
         |          CASE WHEN (x+y)%2 = 1 THEN 4*z
         |               ELSE horiz + vert END AS g4,
         |          CASE WHEN x%2 = 1 AND y%2 = 1 THEN 4*z
         |               WHEN x%2 = 0 AND y%2 = 1 THEN 2*horiz
         |               WHEN x%2 = 1 AND y%2 = 0 THEN 2*vert
         |               ELSE diag END AS b4
         |        FROM dmn)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(r4) AS BIGINT) AS r4_sum,
         |  CAST(SUM(g4) AS BIGINT) AS g4_sum,
         |  CAST(SUM(b4) AS BIGINT) AS b4_sum,
         |  CAST(SUM((r4 + 2*g4 + 3*b4)*(x + 131*y)) AS BIGINT) AS chk
         |FROM dmc GROUP BY 1 ORDER BY 1""".stripMargin,

    // zonal trend: per-pixel OLS numerator (T=4) filtered by pixel
    // centers inside each polygon rect, aggregated per fid
    "q_zonal_trend" ->
      s"""WITH $I, $P, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 3)) AS t),
         |ttv AS (SELECT s.k, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |ztn AS (SELECT k, x, y, 4*SUM(t*v) - 6*SUM(v) AS num
         |        FROM ttv GROUP BY 1, 2, 3),
         |zpx AS (SELECT p.fid, t.num
         |        FROM ztn t JOIN img2 i ON i.k = t.k
         |        JOIN poly2 p ON i.x0m + 4*t.x + 2 >= p.px0m
         |          AND i.x0m + 4*t.x + 2 < p.px1m
         |          AND i.y1m - 4*t.y - 2 >= p.py0m
         |          AND i.y1m - 4*t.y - 2 < p.py1m)
         |SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  CAST(SUM(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neg,
         |  CAST(SUM(num) AS BIGINT) AS num_sum
         |FROM zpx GROUP BY 1 ORDER BY 1""".stripMargin,

    // DP recursion as a segment-splitting recursive CTE: per active
    // chord the argmax-cross² interior point via scatter + GROUP BY;
    // split iff cross² > ε²·|AB|²; kept = all chord endpoints
    "q_track_simplify" ->
      s"""WITH RECURSIVE
         |dpe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 40),
         |dpp AS (SELECT user_id,
         |          ROW_NUMBER() OVER (PARTITION BY user_id
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM dpe),
         |dpn AS (SELECT user_id, COUNT(*) AS n FROM dpp GROUP BY 1),
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
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // hull edge (a→b) iff every other point is strictly left
    // (cross > 0) or collinear strictly between; vertices = edge
    // sources; doubled area = Σ(xa·yb − xb·ya) over directed edges
    "q_convex_hull" ->
      s"""WITH
         |dpe AS (SELECT user_id, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 40),
         |dpq AS (SELECT user_id,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // anchor-chain walk as a strictly-advancing recursive CTE;
    // breakout = first index beyond r² of the anchor
    "q_staypoints" ->
      s"""WITH RECURSIVE
         |dpe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 40),
         |dpp AS (SELECT user_id,
         |          ROW_NUMBER() OVER (PARTITION BY user_id
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM dpe),
         |dpn AS (SELECT user_id, COUNT(*) AS n FROM dpp GROUP BY 1),
         |spw AS (
         |  SELECT user_id, CAST(0 AS BIGINT) AS a FROM dpn
         |  UNION ALL
         |  SELECT q.user_id, q.j AS a FROM (
         |    SELECT w.user_id, w.a, MIN(p.idx) AS j
         |    FROM spw w
         |    JOIN dpp pa ON pa.user_id = w.user_id AND pa.idx = w.a
         |    JOIN dpp p ON p.user_id = w.user_id AND p.idx > w.a
         |      AND (p.px - pa.px)*(p.px - pa.px)
         |        + (p.py - pa.py)*(p.py - pa.py) > 1048576
         |    GROUP BY w.user_id, w.a
         |  ) q),
         |spb AS (SELECT w.user_id, w.a,
         |          COALESCE(MIN(CASE WHEN
         |            (p.px - pa.px)*(p.px - pa.px)
         |              + (p.py - pa.py)*(p.py - pa.py) > 1048576
         |            THEN p.idx END), n.n) AS j
         |        FROM spw w
         |        JOIN dpn n ON n.user_id = w.user_id
         |        JOIN dpp pa ON pa.user_id = w.user_id AND pa.idx = w.a
         |        LEFT JOIN dpp p ON p.user_id = w.user_id
         |          AND p.idx > w.a
         |        GROUP BY w.user_id, w.a, n.n),
         |sps AS (SELECT b.user_id, b.a, b.j - b.a AS span,
         |          pa.px, pa.py
         |        FROM spb b JOIN dpp pa ON pa.user_id = b.user_id
         |          AND pa.idx = b.a
         |        WHERE b.j - b.a >= 3)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_stays,
         |  CAST(SUM(a) AS BIGINT) AS a_sum,
         |  CAST(SUM(span) AS BIGINT) AS span_sum,
         |  CAST(SUM(px + 131*py) AS BIGINT) AS chk
         |FROM sps GROUP BY 1 ORDER BY 1""".stripMargin,

    // DTW ground truth: synchronous min-plus relaxation over the
    // n×6 DP grid (every cell re-emits each round via the self-match
    // arm, so after max(i+j)-2 rounds each cell holds its exact DP
    // value; INF never inflates past its seed because of the min)
    "q_dtw" -> {
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
         |            CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |              + ${hx("hm", 3)} AS BIGINT) AS px,
         |            CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |              + ${hx("hm", 6)} AS BIGINT) AS py
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
    },

    // discrete Fréchet ground truth: the q_dtw min-plus scatter with
    // GREATEST in the relax arm (min-MAX semiring) — same grid, same
    // round bound, no addition so INF never overflows
    "q_frechet" -> {
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
         |            CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |              + ${hx("hm", 3)} AS BIGINT) AS px,
         |            CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |              + ${hx("hm", 6)} AS BIGINT) AS py
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
    },

    // symmetric Hausdorff ground truth: max-of-min squared distances
    // in both directions over the same points and reference
    "q_hausdorff" -> {
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
         |            CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |              + ${hx("hm", 3)} AS BIGINT) AS px,
         |            CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |              + ${hx("hm", 6)} AS BIGINT) AS py
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
    },

    // OD trip matrix: per (user, day) the first/last point by in-day
    // index via lexicographic struct MIN/MAX (exact in both engines),
    // snapped to 512-pitch cells; day = floor(epoch/86400) is safe
    // against unix_timestamp's sub-second truncation
    "q_od_flows" ->
      s"""WITH ode AS (SELECT user_id,
         |          CAST(FLOOR(epoch(ts)/86400) AS BIGINT) AS day,
         |          ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 200),
         |odp AS (SELECT user_id, day,
         |          ROW_NUMBER() OVER (PARTITION BY user_id, day
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM ode),
         |odt AS (SELECT user_id, day,
         |          (MIN(struct_pack(i := idx, x := px, y := py))).x AS ox,
         |          (MIN(struct_pack(i := idx, x := px, y := py))).y AS oy,
         |          (MAX(struct_pack(i := idx, x := px, y := py))).x AS dx,
         |          (MAX(struct_pack(i := idx, x := px, y := py))).y AS dy
         |        FROM odp GROUP BY 1, 2)
         |SELECT ox // 512 AS o_cx, oy // 512 AS o_cy,
         |  dx // 512 AS d_cx, dy // 512 AS d_cy,
         |  CAST(COUNT(*) AS BIGINT) AS n_trips
         |FROM odt GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,

    // radius of gyration divide-free (n·Σ|p|² − |Σp|², all BIGINT)
    // + lagged squared jumps; single-point users hit the COALESCEs
    "q_mobility" ->
      s"""WITH moe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |mop AS (SELECT user_id,
         |          ROW_NUMBER() OVER (PARTITION BY user_id
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM moe),
         |mol AS (SELECT user_id, px, py,
         |          LAG(px) OVER (PARTITION BY user_id ORDER BY idx) AS lx,
         |          LAG(py) OVER (PARTITION BY user_id ORDER BY idx) AS ly
         |        FROM mop)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |  CAST(COUNT(*)*(SUM(px*px) + SUM(py*py))
         |    - (SUM(px)*SUM(px) + SUM(py)*SUM(py)) AS BIGINT) AS gyr_num,
         |  CAST(COALESCE(SUM(CASE WHEN lx IS NOT NULL THEN
         |    (px-lx)*(px-lx) + (py-ly)*(py-ly) END), 0) AS BIGINT)
         |    AS jump_sq_sum,
         |  CAST(COALESCE(MAX((px-lx)*(px-lx) + (py-ly)*(py-ly)), 0)
         |    AS BIGINT) AS jump_sq_max
         |FROM mol GROUP BY 1 ORDER BY 1""".stripMargin,

    // Knox pieces ground truth: the same banded pair joins (3x3
    // cells in space, ±1 buckets in time), each i<j pair met once
    "q_knox" ->
      s"""WITH kne AS (SELECT event_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |knp AS (SELECT event_id AS id, t,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |FROM knc n, kna a, knt t""".stripMargin,

    // Ripley ground truth: banded pair join at pitch 256, per-radius
    // conditional counts over the one candidate set
    "q_ripley" ->
      s"""WITH rke AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |rkp AS (SELECT event_id AS id,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // octant = floor(8·angle/360) via the sign/|dx|-vs-|dy| CASE
    // tree (identical literal tree on the Spark side) — no trig
    "q_bearings" ->
      s"""WITH boe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |bop AS (SELECT user_id,
         |          ROW_NUMBER() OVER (PARTITION BY user_id
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |FROM boo GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same banded cover-cell join + reporter-cell dedupe as the
    // Spark side; segment intersect = bbox overlap AND d1*d2<=0 AND
    // d3*d4<=0 (orientation cross products, exact integers)
    "q_crossings" ->
      s"""WITH sge AS (SELECT event_id, user_id,
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
         |SELECT n.n_segs, t.n_cand, t.n_cross FROM sgn n, sgt t""".stripMargin,

    // Mann-Kendall S per cell: pairwise count-comparison signs over
    // observed daily buckets; LEFT JOIN keeps single-bucket cells
    "q_mk_trend" ->
      s"""WITH mke AS (SELECT event_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |mkp AS (SELECT t,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM mke),
         |mkb AS (SELECT px//512 AS gi, py//512 AS gj,
         |          t//86400 AS tb, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM mkp GROUP BY 1, 2, 3),
         |mks AS (SELECT a.gi, a.gj,
         |          CAST(SUM(CASE WHEN b.c > a.c THEN 1
         |            WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
         |            AS s_stat
         |        FROM mkb a JOIN mkb b
         |          ON a.gi = b.gi AND a.gj = b.gj AND a.tb < b.tb
         |        GROUP BY 1, 2),
         |mkt AS (SELECT gi, gj, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |          CAST(SUM(c) AS BIGINT) AS n_events
         |        FROM mkb GROUP BY 1, 2)
         |SELECT t.gi, t.gj, t.n_buckets, t.n_events,
         |  CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat
         |FROM mkt t LEFT JOIN mks s ON t.gi = s.gi AND t.gj = s.gj
         |ORDER BY 1, 2""".stripMargin,

    "q_emerging" ->
      s"""WITH mke AS (SELECT event_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |mkp AS (SELECT t,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM mke),
         |mkb AS (SELECT px//512 AS gi, py//512 AS gj,
         |          t//86400 AS tb, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM mkp GROUP BY 1, 2, 3),
         |mks AS (SELECT a.gi, a.gj,
         |          CAST(SUM(CASE WHEN b.c > a.c THEN 1
         |            WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
         |            AS s_stat
         |        FROM mkb a JOIN mkb b
         |          ON a.gi = b.gi AND a.gj = b.gj AND a.tb < b.tb
         |        GROUP BY 1, 2),
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
         |FROM emc ORDER BY 1, 2""".stripMargin,

    // EWMA replay: same md5 point grid, trailing-30-day filter, the
    // 2^(idx−1) windowed sum, BIGINT shifts, floor-divided millis
    "q_ewma_anomaly" ->
      s"""WITH ewe AS (SELECT event_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |ewp AS (SELECT t,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |FROM ewc ORDER BY 1, 2, 3""".stripMargin,

    // colocation ground truth: all error×purchase pairs within the
    // coarsest radius, then per-radius pair + distinct-participant
    // counts from the one candidate set
    "q_colocate" ->
      s"""WITH cle AS (SELECT event_id, event_type,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150
         |          AND event_type IN ('error', 'purchase')),
         |clp AS (SELECT event_id AS id, event_type,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // map-matching ground truth: all point×road pairs, exact rational
    // point-to-segment distance (num/den), radius filter, argmin by
    // cross-multiplied rational order via NOT EXISTS
    "q_snap_roads" ->
      s"""WITH sre AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |srp AS (SELECT event_id AS id,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |FROM srw GROUP BY 1 ORDER BY 1""".stripMargin,

    // Hilbert xy2d replayed as 8 unrolled rotate-flip rounds (pure
    // div/mod/CASE — identical arithmetic to the Spark expression);
    // locality sums via LAG over each key order
    "q_hilbert" ->
      s"""WITH hle AS (SELECT md5(CAST(event_id AS VARCHAR)) AS hm
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
         |FROM hst""".stripMargin,

    // Hilbert range-scan ground truth: the SAME driver-computed range
    // literals (the decomposition is exhaustively spec-verified
    // against brute xy2d membership), point keys via the 8 chained
    // Hilbert CTE rounds, then the identical between-join count
    "q_hilbert_ranges" -> {
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
    },

    // Voronoi census ground truth: cross join points x 50 sites,
    // per-point argmin by lexicographic struct MIN (d2, sid)
    "q_voronoi" ->
      s"""WITH vne AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |vnp AS (SELECT event_id AS id,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |FROM vna GROUP BY 1 ORDER BY 1""".stripMargin,

    // KDE ground truth: each point contributes r^2-d^2 to the 3x3
    // ring centers within r (identical explode + filter + aggregate)
    "q_kde" ->
      s"""WITH kde AS (SELECT event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |kdp AS (SELECT
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // convoy ground truth: per-day co-location pairs (distinct), then
    // consecutive-run islands via tb - ROW_NUMBER
    "q_convoy" ->
      s"""WITH cve AS (SELECT event_id, user_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |cvp AS (SELECT user_id AS u, t//86400 AS tb,
         |          CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)} AS BIGINT) AS px,
         |          CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
         |            + ${hx("hm", 6)} AS BIGINT) AS py
         |        FROM cve),
         |cvm AS (SELECT DISTINCT a.u AS ua, b.u AS ub, a.tb
         |        FROM cvp a JOIN cvp b
         |          ON a.tb = b.tb AND a.u < b.u
         |         AND b.px//256 BETWEEN a.px//256 - 1 AND a.px//256 + 1
         |         AND b.py//256 BETWEEN a.py//256 - 1 AND a.py//256 + 1
         |         AND (a.px-b.px)*(a.px-b.px)
         |           + (a.py-b.py)*(a.py-b.py) <= 65536),
         |cvr AS (SELECT ua, ub, tb,
         |          tb - ROW_NUMBER() OVER (PARTITION BY ua, ub
         |            ORDER BY tb) AS grp
         |        FROM cvm),
         |cvg AS (SELECT ua, ub, grp,
         |          CAST(COUNT(*) AS BIGINT) AS run
         |        FROM cvr GROUP BY 1, 2, 3)
         |SELECT ua, ub, CAST(SUM(run) AS BIGINT) AS n_buckets,
         |  CAST(MAX(run) AS BIGINT) AS max_run
         |FROM cvg GROUP BY 1, 2 HAVING MAX(run) >= 3
         |ORDER BY 1, 2""".stripMargin,

    // LUT(v) = min ref value with cdf_ref ≥ cdf_src, via a per-image
    // cdf-inequality join + MIN over the distinct-value tables
    "q_hist_match" ->
      s"""WITH $I, $SimgCte,
         |hep AS (SELECT unnest([0, 3]) AS t),
         |htv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN hep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |hsrc AS (SELECT k, image_id, x, y, v FROM htv WHERE t = 0),
         |href AS (SELECT k, v FROM htv WHERE t = 3),
         |hsc AS (SELECT k, v, COUNT(*) AS c FROM hsrc GROUP BY 1, 2),
         |hscc AS (SELECT k, v,
         |           SUM(c) OVER (PARTITION BY k ORDER BY v) AS cdf
         |         FROM hsc),
         |hrc AS (SELECT k, v, COUNT(*) AS c FROM href GROUP BY 1, 2),
         |hrcc AS (SELECT k, v,
         |           SUM(c) OVER (PARTITION BY k ORDER BY v) AS cdf
         |         FROM hrc),
         |hlut AS (SELECT s.k, s.v, MIN(r.v) AS u
         |         FROM hscc s JOIN hrcc r ON r.k = s.k
         |           AND r.cdf >= s.cdf
         |         GROUP BY 1, 2),
         |hmap AS (SELECT p.k, p.image_id, p.x, p.y, p.v, l.u
         |         FROM hsrc p JOIN hlut l ON l.k = p.k AND l.v = p.v)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(ABS(u - v)) AS BIGINT) AS shift_sum,
         |  CAST(SUM(u) AS BIGINT) AS lut_sum,
         |  CAST(SUM(u*(x + 131*y)) AS BIGINT) AS chk
         |FROM hmap GROUP BY 1 ORDER BY 1""".stripMargin,

    // joint change matrix: pivot epochs 0/3 per pixel, bin div 256
    "q_joint_hist" ->
      s"""WITH $I, $SimgCte,
         |jep AS (SELECT unnest([0, 3]) AS t),
         |jtv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN jep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |jp AS (SELECT k, image_id, x, y,
         |         MAX(CASE WHEN t = 0 THEN v END) AS v0,
         |         MAX(CASE WHEN t = 3 THEN v END) AS v3
         |       FROM jtv GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(v0 // 256 AS BIGINT) AS b0,
         |  CAST(v3 // 256 AS BIGINT) AS b3,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(v3 - v0) AS BIGINT) AS dsum
         |FROM jp GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // chi-square replay: the q_joint_hist derivation, then margins,
    // cross product with o=0 fill, exact floored contributions
    "q_chi2_assoc" ->
      s"""WITH $I, $SimgCte,
         |jep AS (SELECT unnest([0, 3]) AS t),
         |jtv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN jep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |jp AS (SELECT k, image_id, x, y,
         |         MAX(CASE WHEN t = 0 THEN v END) AS v0,
         |         MAX(CASE WHEN t = 3 THEN v END) AS v3
         |       FROM jtv GROUP BY 1, 2, 3, 4),
         |jh AS (SELECT image_id, CAST(v0 // 256 AS BIGINT) AS b0,
         |         CAST(v3 // 256 AS BIGINT) AS b3,
         |         CAST(COUNT(*) AS BIGINT) AS o
         |       FROM jp GROUP BY 1, 2, 3),
         |jr AS (SELECT image_id, b0, CAST(SUM(o) AS BIGINT) AS rc
         |       FROM jh GROUP BY 1, 2),
         |jc AS (SELECT image_id, b3, CAST(SUM(o) AS BIGINT) AS cc
         |       FROM jh GROUP BY 1, 2),
         |jn AS (SELECT image_id, CAST(SUM(o) AS BIGINT) AS n
         |       FROM jh GROUP BY 1),
         |jg AS (SELECT r.image_id, r.b0, c.b3, r.rc, c.cc, n.n,
         |         COALESCE(h.o, 0) AS o
         |       FROM jr r JOIN jc c ON c.image_id = r.image_id
         |       JOIN jn n ON n.image_id = r.image_id
         |       LEFT JOIN jh h ON h.image_id = r.image_id
         |         AND h.b0 = r.b0 AND h.b3 = c.b3),
         |jx AS (SELECT image_id, b0, b3,
         |         ((n*o - rc*cc)*(n*o - rc*cc)*1000) // (n*rc*cc)
         |           AS contrib
         |       FROM jg)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST((COUNT(DISTINCT b0) - 1)
         |     * (COUNT(DISTINCT b3) - 1) AS BIGINT) AS dof,
         |  CAST(SUM(contrib) AS BIGINT) AS chi2_scaled
         |FROM jx GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_radcal" ->
      s"""WITH $I, $SimgCte,
         |jep AS (SELECT unnest([0, 3]) AS t),
         |jtv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN jep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |jp AS (SELECT k, image_id, x, y,
         |         MAX(CASE WHEN t = 0 THEN v END) AS v0,
         |         MAX(CASE WHEN t = 3 THEN v END) AS v3
         |       FROM jtv GROUP BY 1, 2, 3, 4),
         |jm AS (SELECT image_id,
         |         CAST(COUNT(*) AS BIGINT) AS n_px,
         |         CAST(SUM(v0) AS BIGINT) AS sx,
         |         CAST(SUM(v3) AS BIGINT) AS sy,
         |         CAST(SUM(v0*v3) AS BIGINT) AS sxy,
         |         CAST(SUM(v0*v0) AS BIGINT) AS sxx
         |       FROM jp GROUP BY 1)
         |SELECT image_id, n_px, sx, sy,
         |  n_px*sxy - sx*sy AS sxy_n,
         |  n_px*sxx - sx*sx AS sxx_n
         |FROM jm ORDER BY image_id""".stripMargin,

    // CMS rows from disjoint md5 hex pairs (ascii arithmetic);
    // estimate = min over the 4 row counters — overestimate-only
    "q_cms_topk" ->
      s"""WITH $TokCte,
         |cmt AS (SELECT unnest(ts) AS term FROM tok),
         |cmh AS (SELECT term, md5(term) AS h FROM cmt),
         |cmr AS (SELECT unnest(generate_series(0, 3)) AS r),
         |cmb AS (SELECT c.term, r.r,
         |          ((CASE WHEN ascii(substr(c.h, CAST(2*r.r+1 AS INT), 1)) <= 57
         |                 THEN ascii(substr(c.h, CAST(2*r.r+1 AS INT), 1)) - 48
         |                 ELSE ascii(substr(c.h, CAST(2*r.r+1 AS INT), 1)) - 87 END) * 16
         |           + (CASE WHEN ascii(substr(c.h, CAST(2*r.r+2 AS INT), 1)) <= 57
         |                   THEN ascii(substr(c.h, CAST(2*r.r+2 AS INT), 1)) - 48
         |                   ELSE ascii(substr(c.h, CAST(2*r.r+2 AS INT), 1)) - 87 END)) % 64
         |            AS b
         |        FROM cmh c CROSS JOIN cmr r),
         |cms2 AS (SELECT r, b, COUNT(*) AS cnt FROM cmb GROUP BY 1, 2),
         |ctr AS (SELECT term, COUNT(*) AS true_cnt FROM cmt GROUP BY 1
         |        ORDER BY true_cnt DESC, term LIMIT 5),
         |cqb AS (SELECT DISTINCT b2.term, b2.r, b2.b
         |        FROM cmb b2 JOIN ctr t2 ON t2.term = b2.term),
         |cest AS (SELECT q.term, MIN(s.cnt) AS cms_est
         |         FROM cqb q JOIN cms2 s ON s.r = q.r AND s.b = q.b
         |         GROUP BY 1)
         |SELECT t3.term, CAST(t3.true_cnt AS BIGINT) AS true_cnt,
         |  CAST(e.cms_est AS BIGINT) AS cms_est
         |FROM ctr t3 JOIN cest e ON e.term = t3.term
         |ORDER BY true_cnt DESC, t3.term""".stripMargin,

    // frequent-pair ground truth: distinct (user, hour, item) baskets
    // with item = type#(k div 50), within-basket self-join, HAVING on
    // the support threshold
    "q_itemsets" ->
      """WITH itb AS (SELECT DISTINCT user_id,
        |         CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS hr,
        |         event_type || '#' ||
        |           CAST(CAST(substr(props, 7, length(props)-7) AS INT)
        |             // 50 AS VARCHAR) AS item
        |       FROM events)
        |SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM itb a JOIN itb b
        |  ON a.user_id = b.user_id AND a.hr = b.hr AND a.item < b.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= 10
        |ORDER BY 1, 2""".stripMargin,

    // association-rule replay: same basket CTE, both rule directions,
    // exact integer confidence/lift with the same floor divisions
    "q_assoc_rules" ->
      """WITH arb AS (SELECT DISTINCT user_id,
        |         CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS hr,
        |         event_type || '#' ||
        |           CAST(CAST(substr(props, 7, length(props)-7) AS INT)
        |             // 50 AS VARCHAR) AS item
        |       FROM events),
        |arp AS (SELECT a.item AS item_a, b.item AS item_b,
        |          CAST(COUNT(*) AS BIGINT) AS support
        |        FROM arb a JOIN arb b
        |          ON a.user_id = b.user_id AND a.hr = b.hr
        |          AND a.item < b.item
        |        GROUP BY 1, 2 HAVING COUNT(*) >= 10),
        |ari AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM arb GROUP BY 1),
        |arn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        |          (SELECT DISTINCT user_id, hr FROM arb)),
        |ard AS (SELECT item_a AS ante, item_b AS cons, support FROM arp
        |        UNION ALL SELECT item_b, item_a, support FROM arp)
        |SELECT d.ante, d.cons, d.support,
        |  CAST((d.support * 1000000) // ca.c AS BIGINT) AS conf_scaled,
        |  CAST((d.support * n.n * 1000000) // (ca.c * cb.c) AS BIGINT)
        |    AS lift_scaled
        |FROM ard d JOIN ari ca ON ca.item = d.ante
        |JOIN ari cb ON cb.item = d.cons, arn n
        |WHERE (d.support * 1000000) // ca.c >= 10000
        |ORDER BY ante, cons""".stripMargin,

    // classifier replay: same md5 split, Laplace counts over train,
    // per-occurrence floored weights, (score desc, lang) argmax
    "q_classify" ->
      """WITH clb AS (SELECT doc_id,
        |  CAST((strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        |    AS BIGINT) AS bucket
        |  FROM documents),
        |cls AS (SELECT d.doc_id, d.lang, d.text,
        |          CASE WHEN b.bucket * 1000 < 200 * 65536
        |            THEN 'val' ELSE 'train' END AS split
        |        FROM documents d JOIN clb b ON b.doc_id = d.doc_id),
        |ctk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM cls WHERE split = 'train'),
        |ctl AS (SELECT lang AS l, term, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM ctk GROUP BY 1, 2),
        |cnl AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nl
        |        FROM ctk GROUP BY 1),
        |cvv AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
        |        FROM ctk),
        |cdn AS (SELECT l, nl + v.v AS den FROM cnl, cvv v),
        |cvt AS (SELECT doc_id, lang,
        |          unnest(string_split(text, ' ')) AS term
        |        FROM cls WHERE split = 'val'),
        |csc AS (SELECT t.doc_id, t.lang, d.l,
        |          CAST(SUM(((COALESCE(m.c, 0) + 1) * 1000000) // d.den)
        |            AS BIGINT) AS score
        |        FROM cvt t CROSS JOIN cdn d
        |        LEFT JOIN ctl m ON m.l = d.l AND m.term = t.term
        |        GROUP BY 1, 2, 3),
        |crk AS (SELECT doc_id, lang, l, score,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, l) AS rk
        |        FROM csc)
        |SELECT doc_id, lang, l AS pred_lang, score FROM crk
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // confusion replay: the q_classify chain rolled up per
    // (true, predicted) cell
    "q_confusion" ->
      """WITH clb AS (SELECT doc_id,
        |  CAST((strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        |    AS BIGINT) AS bucket
        |  FROM documents),
        |cls AS (SELECT d.doc_id, d.lang, d.text,
        |          CASE WHEN b.bucket * 1000 < 200 * 65536
        |            THEN 'val' ELSE 'train' END AS split
        |        FROM documents d JOIN clb b ON b.doc_id = d.doc_id),
        |ctk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM cls WHERE split = 'train'),
        |ctl AS (SELECT lang AS l, term, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM ctk GROUP BY 1, 2),
        |cnl AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nl
        |        FROM ctk GROUP BY 1),
        |cvv AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
        |        FROM ctk),
        |cdn AS (SELECT l, nl + v.v AS den FROM cnl, cvv v),
        |cvt AS (SELECT doc_id, lang,
        |          unnest(string_split(text, ' ')) AS term
        |        FROM cls WHERE split = 'val'),
        |csc AS (SELECT t.doc_id, t.lang, d.l,
        |          CAST(SUM(((COALESCE(m.c, 0) + 1) * 1000000) // d.den)
        |            AS BIGINT) AS score
        |        FROM cvt t CROSS JOIN cdn d
        |        LEFT JOIN ctl m ON m.l = d.l AND m.term = t.term
        |        GROUP BY 1, 2, 3),
        |crk AS (SELECT doc_id, lang, l, score,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, l) AS rk
        |        FROM csc)
        |SELECT lang AS true_lang, l AS pred_lang,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM crk WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Markov replay: per-user LEAD over (ts, event_id), type²-bounded
    // counts, exact floored transition probabilities
    "q_markov" ->
      """WITH mkv AS (SELECT user_id, event_type,
        |        LEAD(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS nt
        |      FROM events),
        |mkc AS (SELECT event_type AS a, nt AS b,
        |          CAST(COUNT(*) AS BIGINT) AS c
        |        FROM mkv WHERE nt IS NOT NULL GROUP BY 1, 2),
        |mkt AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca
        |        FROM mkc GROUP BY 1)
        |SELECT c.a, c.b, c.c,
        |  CAST((c.c * 1000000) // t.ca AS BIGINT) AS p_scaled
        |FROM mkc c JOIN mkt t ON t.a = c.a ORDER BY 1, 2""".stripMargin,

    // hour = floor(epoch/3600) (sub-second truncation can never cross
    // an hour boundary); latest-in-hour via arg_max on (ts, event_id);
    // dense hours via generate_series; ffill = last_value IGNORE NULLS
    "q_events_gapfill" ->
      """WITH gev AS (SELECT user_id,
        |         CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS hr,
        |         ts, event_id, event_type
        |       FROM events WHERE user_id < 40),
        |ghr AS (SELECT user_id, hr, COUNT(*) AS n,
        |          (MAX(struct_pack(ts := ts, eid := event_id,
        |            et := event_type))).et AS et
        |        FROM gev GROUP BY 1, 2),
        |gsp AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1
        |        FROM ghr GROUP BY 1),
        |gdn AS (SELECT s.user_id, u.hr
        |        FROM gsp s CROSS JOIN LATERAL (SELECT
        |          unnest(generate_series(s.h0, s.h1)) AS hr) u)
        |SELECT d.user_id, d.hr,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
        |  LAST_VALUE(h.et IGNORE NULLS) OVER (PARTITION BY d.user_id
        |    ORDER BY d.hr) AS etype_filled
        |FROM gdn d LEFT JOIN ghr h ON h.user_id = d.user_id
        |  AND h.hr = d.hr
        |ORDER BY d.user_id, d.hr""".stripMargin,

    // basin of each cell = the walk row whose cursor has no outgoing
    // edge (the terminal pit); one such row per source cell
    "q_watershed" ->
      s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |acand AS (SELECT c.k, c.x, c.y,
         |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
         |          FROM demp c JOIN d8 d ON TRUE
         |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |            AND n.y = c.y + d.dy
         |          GROUP BY 1, 2, 3),
         |aedge AS (SELECT c.k, c.x, c.y,
         |            c.x + d.dx AS tx, c.y + d.dy AS ty
         |          FROM acand c JOIN d8 d ON d.code = c.key % 16
         |          WHERE 2048 - c.key//16 > 0),
         |walk AS (
         |  SELECT g.k, g.x, g.y, g.x AS cx, g.y AS cy FROM demp g
         |  UNION ALL
         |  SELECT w2.k, w2.x, w2.y, e.tx, e.ty
         |  FROM walk w2 JOIN aedge e ON e.k = w2.k AND e.x = w2.cx
         |    AND e.y = w2.cy),
         |wterm AS (SELECT w.k, w.cx, w.cy FROM walk w
         |          WHERE NOT EXISTS (SELECT 1 FROM aedge e
         |            WHERE e.k = w.k AND e.x = w.cx AND e.y = w.cy)),
         |wb AS (SELECT k, cx, cy, COUNT(*) AS sz
         |       FROM wterm GROUP BY 1, 2, 3)
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_basins,
         |  CAST(MAX(b.sz) AS BIGINT) AS max_basin,
         |  CAST(SUM(b.sz*b.sz) AS BIGINT) AS basin_sq_sum
         |FROM wb b JOIN simg s ON s.k = b.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-pixel OLS numerator over the 4-epoch stack: num =
    // 4·Σ(t·v) − 6·Σv (T=4, Σt=6) — all integer
    "q_trend" ->
      s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 3)) AS t),
         |ttv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |tnum AS (SELECT k, image_id, x, y,
         |           4*SUM(t*v) - 6*SUM(v) AS num
         |         FROM ttv GROUP BY 1, 2, 3, 4)
         |SELECT image_id,
         |  CAST(SUM(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(SUM(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |  CAST(SUM(num) AS BIGINT) AS num_sum
         |FROM tnum GROUP BY 1 ORDER BY 1""".stripMargin,

    // CUSUM scan over the 6-epoch stack: D_s = 6·cumsum_{s} − s·total,
    // s* = argmax |D_s| with smallest-s tie via MAX(struct(|D|, −s))
    "q_changepoint" ->
      s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |ttv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
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
         |FROM tbest GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // shot-cut ground truth: per (k, bin) conditional counts c0..c5,
    // SAD_t via a CASE ladder over the 5 consecutive pairs
    "q_shot_cuts" ->
      s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |ttv AS (SELECT s.k, s.image_id, s.w, s.h, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |shb AS (SELECT k, image_id, w, h, v // 128 AS b,
         |          SUM(CASE WHEN t=0 THEN 1 ELSE 0 END) AS c0,
         |          SUM(CASE WHEN t=1 THEN 1 ELSE 0 END) AS c1,
         |          SUM(CASE WHEN t=2 THEN 1 ELSE 0 END) AS c2,
         |          SUM(CASE WHEN t=3 THEN 1 ELSE 0 END) AS c3,
         |          SUM(CASE WHEN t=4 THEN 1 ELSE 0 END) AS c4,
         |          SUM(CASE WHEN t=5 THEN 1 ELSE 0 END) AS c5
         |        FROM ttv GROUP BY 1, 2, 3, 4, 5),
         |sft AS (SELECT unnest(generate_series(0, 4)) AS tf),
         |ssd AS (SELECT k, image_id, w, h, CAST(f.tf AS BIGINT) AS t_from,
         |          SUM(ABS(
         |            (CASE f.tf WHEN 0 THEN c0 WHEN 1 THEN c1
         |              WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END) -
         |            (CASE f.tf WHEN 0 THEN c1 WHEN 1 THEN c2
         |              WHEN 2 THEN c3 WHEN 3 THEN c4 ELSE c5 END))) AS sad
         |        FROM shb CROSS JOIN sft f GROUP BY 1, 2, 3, 4, 5)
         |SELECT image_id, t_from, CAST(sad AS BIGINT) AS sad,
         |  CAST(CASE WHEN 128*sad > w*h THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_cut
         |FROM ssd ORDER BY 1, 2""".stripMargin,

    // video-curation ground truth: the shot-cut CTE feeds clip-id
    // assignment (count of cuts before t), keyframe = (start+end)//2,
    // then the Laplacian-variance gate via 4 neighbor self-joins on
    // the keyframe epoch's value formula
    "q_curate_video" ->
      s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |vtv AS (SELECT s.k, s.image_id, s.w, s.h, e.t, xs.x, ys.y,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |vhb AS (SELECT k, image_id, w, h, v // 128 AS b,
         |          SUM(CASE WHEN t=0 THEN 1 ELSE 0 END) AS c0,
         |          SUM(CASE WHEN t=1 THEN 1 ELSE 0 END) AS c1,
         |          SUM(CASE WHEN t=2 THEN 1 ELSE 0 END) AS c2,
         |          SUM(CASE WHEN t=3 THEN 1 ELSE 0 END) AS c3,
         |          SUM(CASE WHEN t=4 THEN 1 ELSE 0 END) AS c4,
         |          SUM(CASE WHEN t=5 THEN 1 ELSE 0 END) AS c5
         |        FROM vtv GROUP BY 1, 2, 3, 4, 5),
         |vft AS (SELECT unnest(generate_series(0, 4)) AS tf),
         |vsd AS (SELECT k, image_id, w, h, f.tf AS t_from,
         |          SUM(ABS(
         |            (CASE f.tf WHEN 0 THEN c0 WHEN 1 THEN c1
         |              WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END) -
         |            (CASE f.tf WHEN 0 THEN c1 WHEN 1 THEN c2
         |              WHEN 2 THEN c3 WHEN 3 THEN c4 ELSE c5 END))) AS sad
         |        FROM vhb CROSS JOIN vft f GROUP BY 1, 2, 3, 4, 5),
         |vct AS (SELECT k, image_id, t_from FROM vsd
         |        WHERE 128*sad > w*h),
         |vfr AS (SELECT s.k, s.image_id, e.t FROM simg s
         |        CROSS JOIN tep e),
         |vcid AS (SELECT f.k, f.image_id, f.t,
         |          CAST(COUNT(c.t_from) AS BIGINT) AS clip_id
         |        FROM vfr f LEFT JOIN vct c ON c.k = f.k
         |          AND c.t_from < f.t
         |        GROUP BY 1, 2, 3),
         |vclip AS (SELECT k, image_id, clip_id,
         |           CAST(MIN(t) AS BIGINT) AS t_start,
         |           CAST(MAX(t) AS BIGINT) AS t_end,
         |           CAST((MIN(t)+MAX(t))//2 AS BIGINT) AS kf
         |         FROM vcid GROUP BY 1, 2, 3),
         |vlap AS (SELECT cl.k, cl.clip_id,
         |           4*c.v - l.v - r.v - u.v - d.v AS lv
         |         FROM vclip cl
         |         JOIN vtv c ON c.k = cl.k AND c.t = cl.kf
         |         JOIN vtv l ON l.k = c.k AND l.t = c.t
         |           AND l.x = c.x-1 AND l.y = c.y
         |         JOIN vtv r ON r.k = c.k AND r.t = c.t
         |           AND r.x = c.x+1 AND r.y = c.y
         |         JOIN vtv u ON u.k = c.k AND u.t = c.t
         |           AND u.x = c.x AND u.y = c.y-1
         |         JOIN vtv d ON d.k = c.k AND d.t = c.t
         |           AND d.x = c.x AND d.y = c.y+1
         |         WHERE c.x BETWEEN 1 AND c.w-2
         |           AND c.y BETWEEN 1 AND c.h-2),
         |vbag AS (SELECT k, clip_id, CAST(COUNT(*) AS BIGINT) AS n,
         |           CAST(SUM(lv) AS BIGINT) AS s,
         |           CAST(SUM(lv*lv) AS BIGINT) AS s2
         |         FROM vlap GROUP BY 1, 2)
         |SELECT cl.image_id, cl.clip_id, cl.t_start, cl.t_end, cl.kf,
         |  CAST(b.n*b.s2 - b.s*b.s AS BIGINT) AS score,
         |  CAST(CASE WHEN b.n*b.s2 - b.s*b.s > 1600000*b.n*b.n
         |       THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM vclip cl JOIN vbag b ON b.k = cl.k
         |  AND b.clip_id = cl.clip_id
         |ORDER BY 1, 2""".stripMargin,

    // max-value composite: winner = MAX(struct(v, −t)) per pixel
    "q_temporal_composite" ->
      s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |ttv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
         |               + (s.k%3+1)*xs.x*ys.y
         |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
         |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
         |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |twin AS (SELECT k, image_id, x, y,
         |           (MAX(struct_pack(v := v, tn := -t))).v AS wv,
         |           (MAX(struct_pack(v := v, tn := -t))).tn AS tn
         |         FROM ttv GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(-tn AS BIGINT) AS t_win,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(wv) AS BIGINT) AS v_sum
         |FROM twin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_gain_offset" ->
      s"""WITH $I, $B, $SimgCte, $PxCte
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(FLOOR((CAST(px.v AS DOUBLE) * 0.1 + 5.0) * 1000))
         |    AS BIGINT) AS fsum
         |FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // stitched plane == direct band-0 sums (same closed forms as the
    // identity warp)
    "q_tile_stitch" ->
      s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 0
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id, CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin,

    // band 2 of the expanded frame = source band 3 (nir) closed forms
    "q_subdatasets" ->
      s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 3
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id, CAST(3 AS BIGINT) AS n_bands,
         |  CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin,

    "q_colortable" ->
      s"""WITH $I,
         |kv AS (
         |  SELECT image_id, 'red/color/0' AS key, '0,0,0' AS value FROM img2
         |  UNION ALL SELECT image_id, 'red/color/128', '128,64,32' FROM img2
         |  UNION ALL SELECT image_id, 'red/color/255', '255,255,255' FROM img2
         |  UNION ALL SELECT image_id, 'red/colorinterp', 'ColorInterp_Red'
         |    FROM img2)
         |SELECT image_id, key, value, CAST(1 AS BIGINT) AS n_after_clear
         |FROM kv ORDER BY image_id, key""".stripMargin,

    "q_metadata" ->
      s"""WITH $I,
         |kv AS (
         |  SELECT image_id, 'sensor' AS key, fmt AS value FROM img2
         |  UNION ALL SELECT image_id, 'pixels', CAST(w*h AS VARCHAR) FROM img2
         |  UNION ALL SELECT image_id, 'red/wavelength_nm', '650' FROM img2
         |  UNION ALL SELECT image_id, 'red/stripe_px', CAST(nw AS VARCHAR)
         |    FROM img2)
         |SELECT image_id, key, value FROM kv
         |ORDER BY image_id, key""".stripMargin,

    "q_add_band" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |r AS (SELECT k, x, y, v FROM px WHERE b = 2),
         |n AS (SELECT k, x, y, v FROM px WHERE b = 3),
         |q AS (SELECT r.k,
         |        FLOOR((CAST(n.v AS DOUBLE) - r.v) / (n.v + r.v) * 1000)
         |          + 1000 AS v
         |      FROM r JOIN n ON n.k = r.k AND n.x = r.x AND n.y = r.y)
         |SELECT s.image_id, CAST(7 AS BIGINT) AS n_bands,
         |       CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(q.v) AS BIGINT) AS vsum
         |FROM q JOIN simg s ON s.k = q.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_band_rename" -> {
      val names = Seq("blue", "green", "red", "nir08", "swir1", "swir2")
      val sel = names.zipWithIndex.map { case (n, i) =>
        s"SELECT image_id, CAST($i AS BIGINT) AS pos, '$n' AS band FROM img2"
      }.mkString("\nUNION ALL ")
      s"""WITH $I
         |$sel
         |ORDER BY image_id, pos""".stripMargin
    },

    // autoscale: out = clamp((v−vmin)·1000/(vmax−vmin), 0, 1000);
    // constant band ⇒ minout (0)
    "q_autoscale" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |rng AS (SELECT s.k, s.image_id,
         |          p.base + p.ax*s.nw AS vmin,
         |          p.base + p.ax*(s.w-1) + p.ay*(s.h-1) AS vmax
         |        FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0),
         |o AS (SELECT r.image_id,
         |        CASE WHEN r.vmax = r.vmin THEN 0.0
         |             ELSE LEAST(1000.0, GREATEST(0.0,
         |               (CAST(px.v AS DOUBLE) - r.vmin) *
         |               (1000.0/(CAST(r.vmax AS DOUBLE) - r.vmin)) + 0.0))
         |        END AS outv
         |      FROM px JOIN rng r ON r.k = px.k WHERE px.b = 0)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(FLOOR(outv * 1000)) AS BIGINT) AS fsum
         |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_blob_labels" ->
      s"""WITH RECURSIVE $I, $B, $SimgCte,
         |bloffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |blm0 AS (
         |  SELECT s.k, s.w, s.h, xs.x, ys.y
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |    AND (p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y > 0
         |    AND ((p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y) % 5 IN (1, 2)),
         |blf(k, x, y, lab, it) AS (
         |  SELECT k, x, y, y*w + x, 0 FROM blm0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.lab, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MIN(t.lab) AS lab, MAX(t.it) AS it
         |    FROM blf t CROSS JOIN bloffs o
         |    GROUP BY 1, 2, 3
         |  ) c JOIN blm0 m ON m.k = c.k AND m.x = c.x AND m.y = c.y
         |  WHERE c.it < 144),
         |blfin AS (SELECT k, lab, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM blf WHERE it = 144 GROUP BY k, lab),
         |blagg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_comp,
         |    CAST(SUM(sz) AS BIGINT) AS n_fg,
         |    CAST(MAX(sz) AS BIGINT) AS max_size,
         |    CAST(SUM(lab) AS BIGINT) AS labelsum,
         |    CAST(SUM(sz * lab) AS BIGINT) AS sizechk
         |  FROM blfin GROUP BY k)
         |SELECT s.image_id,
         |  COALESCE(a.n_comp, 0) AS n_comp,
         |  COALESCE(a.n_fg, 0) AS n_fg,
         |  COALESCE(a.max_size, 0) AS max_size,
         |  COALESCE(a.labelsum, 0) AS labelsum,
         |  COALESCE(a.sizechk, 0) AS sizechk
         |FROM simg s LEFT JOIN blagg a ON a.k = s.k
         |ORDER BY s.image_id""".stripMargin,

    "q_polygonize" ->
      s"""WITH RECURSIVE $I, $B, $SimgCte,
         |pgoffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |pgm0 AS (
         |  SELECT s.k, s.w, s.h, xs.x, ys.y
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |    AND (p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y > 0
         |    AND ((p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y) % 5 IN (1, 2)),
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
         |ORDER BY s.image_id, label""".stripMargin,

    "q_majority" ->
      s"""WITH $I, $B, $SimgCte,
         |mjoffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |mjcls AS (
         |  SELECT s.k, xs.x, ys.y,
         |    (((p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y) % 5 + 5) % 5 AS cls
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw),
         |mjvote AS (
         |  SELECT c.k, c.x + o.dx AS x, c.y + o.dy AS y, c.cls,
         |         COUNT(*) AS cnt
         |  FROM mjcls c CROSS JOIN mjoffs o
         |  GROUP BY 1, 2, 3, 4),
         |mjsel AS (
         |  SELECT v.k, v.x, v.y,
         |         MIN({'nc': -v.cnt, 'c': v.cls}) AS m
         |  FROM mjvote v
         |  JOIN mjcls t ON t.k = v.k AND t.x = v.x AND t.y = v.y
         |  GROUP BY v.k, v.x, v.y)
         |SELECT s.image_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(l.m.c) AS BIGINT) AS modesum,
         |  CAST(SUM(l.m.c * (l.x + 131*l.y)) AS BIGINT) AS modechk,
         |  CAST(SUM(CASE WHEN l.m.c <> t.cls THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_changed
         |FROM mjsel l
         |JOIN mjcls t ON t.k = l.k AND t.x = l.x AND t.y = l.y
         |JOIN simg s ON s.k = l.k
         |GROUP BY s.image_id ORDER BY s.image_id""".stripMargin,

    "q_sieve" ->
      s"""WITH RECURSIVE $I, $B, $SimgCte,
         |svoffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |svm0 AS (
         |  SELECT s.k, s.w, s.h, xs.x, ys.y
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |    AND (p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y > 0
         |    AND ((p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y) % 5 IN (1, 2)),
         |svf(k, x, y, lab, it) AS (
         |  SELECT k, x, y, y*w + x, 0 FROM svm0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.lab, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MIN(t.lab) AS lab, MAX(t.it) AS it
         |    FROM svf t CROSS JOIN svoffs o
         |    GROUP BY 1, 2, 3
         |  ) c JOIN svm0 m ON m.k = c.k AND m.x = c.x AND m.y = c.y
         |  WHERE c.it < 144),
         |svl AS (SELECT k, x, y, lab FROM svf WHERE it = 144),
         |svsz AS (SELECT k, lab, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM svl GROUP BY k, lab),
         |svagg AS (
         |  SELECT l.k,
         |    CAST(COUNT(*) AS BIGINT) AS n_fg_before,
         |    CAST(COUNT(DISTINCT l.lab) AS BIGINT) AS n_comp_before,
         |    CAST(SUM(CASE WHEN z.sz >= 10 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fg_after,
         |    CAST(COUNT(DISTINCT CASE WHEN z.sz >= 10 THEN l.lab END)
         |      AS BIGINT) AS n_comp_after,
         |    CAST(SUM(CASE WHEN z.sz >= 10 THEN l.x + 131*l.y
         |             ELSE 0 END) AS BIGINT) AS keptchk
         |  FROM svl l JOIN svsz z ON z.k = l.k AND z.lab = l.lab
         |  GROUP BY l.k)
         |SELECT s.image_id,
         |  COALESCE(a.n_fg_before, 0) AS n_fg_before,
         |  COALESCE(a.n_comp_before, 0) AS n_comp_before,
         |  COALESCE(a.n_fg_after, 0) AS n_fg_after,
         |  COALESCE(a.n_comp_after, 0) AS n_comp_after,
         |  COALESCE(a.keptchk, 0) AS keptchk
         |FROM simg s LEFT JOIN svagg a ON a.k = s.k
         |ORDER BY s.image_id""".stripMargin,

    "q_equalize" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |eqp AS (SELECT k, x, y, v FROM px WHERE b = 2),
         |eqc AS (SELECT k, x, y, v,
         |    COUNT(*) OVER (PARTITION BY k ORDER BY v
         |                   RANGE UNBOUNDED PRECEDING) AS cdf,
         |    COUNT(*) OVER (PARTITION BY k) AS n,
         |    MIN(v) OVER (PARTITION BY k) AS vmin
         |  FROM eqp),
         |eq2 AS (SELECT k, x, y,
         |    CASE WHEN n = cmin THEN 0
         |         ELSE (CAST(cdf - cmin AS BIGINT) * 255) // (n - cmin)
         |    END AS vp
         |  FROM (SELECT *, SUM(CASE WHEN v = vmin THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY k) AS cmin
         |        FROM eqc))
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(vp) AS BIGINT) AS eqsum,
         |  CAST(MIN(vp) AS BIGINT) AS eqmin,
         |  CAST(MAX(vp) AS BIGINT) AS eqmax,
         |  CAST(SUM(CAST(vp AS BIGINT) * (x + 131*y)) AS BIGINT) AS eqchk
         |FROM eq2 JOIN simg s ON s.k = eq2.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identity warp = per-image band-0 valid-pixel sums (closed forms)
    "q_warp_into_identity" ->
      s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 0
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id AS gid, CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY gid""".stripMargin,

    // pixel-level mosaic: per dst pixel the max-k VALID covering image
    // wins (nodata never overwrites); nearest lookup xi=(gx−x0m)//4
    "q_mosaic_pixels" ->
      s"""WITH $I,
         |simg AS (SELECT * FROM img2
         |         WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |g AS (SELECT image_id AS gid, x0m - 512 AS gx0, y0m - 512 AS gy0,
         |        x1m + 512 AS gx1, y1m + 512 AS gy1 FROM simg),
         |gdim AS (SELECT *, (gx1-gx0+3)//4 AS out_w, (gy1-gy0+3)//4 AS out_h
         |         FROM g),
         |cover AS (SELECT DISTINCT gid FROM gdim d JOIN simg i
         |  ON i.x0m < d.gx0 + d.out_w*4 AND d.gx0 < i.x1m
         | AND i.y0m < d.gy1 AND d.gy1 - d.out_h*4 < i.y1m),
         |pxc AS (
         |  SELECT d.gid, d.gx0 + xs.i*4 + 2 AS gx, d.gy1 - ys.j*4 - 2 AS gy
         |  FROM gdim d
         |  JOIN cover c ON c.gid = d.gid
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(d.out_w-1 AS INT))) AS i) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(d.out_h-1 AS INT))) AS j) ys),
         |hit AS (
         |  -- gx>=x0m / gy<=y1m guards keep // operands non-negative:
         |  -- DuckDB // truncates toward zero, the engine floors
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pxc p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |win AS (SELECT gid, gx, gy, MAX(k) AS k FROM hit GROUP BY 1,2,3),
         |val AS (SELECT w.gid,
         |    200 + (w.k*3) % 800 + (w.k % 8)*h.xi + (w.k % 8)*h.yi AS v
         |  FROM win w JOIN hit h
         |    ON h.gid = w.gid AND h.gx = w.gx AND h.gy = w.gy AND h.k = w.k),
         |sums AS (SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |                CAST(SUM(v) AS BIGINT) AS vsum
         |         FROM val GROUP BY gid)
         |SELECT c.gid, COALESCE(s.n_valid, 0) AS n_valid,
         |       COALESCE(s.vsum, 0) AS vsum
         |FROM cover c LEFT JOIN sums s USING (gid) ORDER BY gid""".stripMargin,

    // best-pixel composite: per destination pixel MAX over all
    // covering images' values (vs the overlay rule's MAX(k) winner);
    // images re-anchored onto one dense window, single 95×95 grid
    "q_composite_max" ->
      s"""WITH $I,
         |simg0 AS (SELECT * FROM img2
         |          WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |simg AS (SELECT k, image_id, w, h, nw,
         |           (k % 4)*60 - 100 AS x0m, ((k*3) % 4)*60 - 100 AS y0m,
         |           (k % 4)*60 - 100 + w*4 AS x1m,
         |           ((k*3) % 4)*60 - 100 + h*4 AS y1m
         |         FROM simg0),
         |pxc AS (
         |  SELECT CAST(0 AS BIGINT) AS gid,
         |         -120 + xs.i*4 + 2 AS gx, 260 - ys.j*4 - 2 AS gy
         |  FROM (SELECT unnest(generate_series(0, 94)) AS i) xs
         |  CROSS JOIN (SELECT unnest(generate_series(0, 94)) AS j) ys),
         |hit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pxc p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |val AS (SELECT gid, gx, gy,
         |    MAX(200 + (k*3) % 800 + (k % 8)*xi + (k % 8)*yi) AS v
         |  FROM hit GROUP BY 1, 2, 3)
         |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(v) AS BIGINT) AS vsum
         |FROM val GROUP BY gid ORDER BY gid""".stripMargin,

    "q_mosaic_feather" ->
      s"""WITH $I,
         |fsimg0 AS (SELECT * FROM img2
         |           WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |fsimg AS (SELECT k, image_id, w, h, nw,
         |            (k % 4)*60 - 100 AS x0m, ((k*3) % 4)*60 - 100 AS y0m,
         |            (k % 4)*60 - 100 + w*4 AS x1m,
         |            ((k*3) % 4)*60 - 100 + h*4 AS y1m
         |          FROM fsimg0),
         |fpxc AS (
         |  SELECT CAST(0 AS BIGINT) AS gid,
         |         -120 + xs.i*4 + 2 AS gx, 260 - ys.j*4 - 2 AS gy
         |  FROM (SELECT unnest(generate_series(0, 94)) AS i) xs
         |  CROSS JOIN (SELECT unnest(generate_series(0, 94)) AS j) ys),
         |fhit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k, i.w, i.h, i.nw,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM fpxc p JOIN fsimg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |fval AS (SELECT gid, gx, gy,
         |    SUM(CAST(LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)
         |          AS BIGINT)
         |      * LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)
         |      * (200 + (k*3) % 800 + (k % 8)*xi + (k % 8)*yi)) AS num,
         |    SUM(CAST(LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)
         |          AS BIGINT)
         |      * LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)) AS den
         |  FROM fhit GROUP BY 1, 2, 3)
         |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(num) AS BIGINT) AS wvsum,
         |       CAST(SUM(den) AS BIGINT) AS wsum
         |FROM fval GROUP BY gid ORDER BY gid""".stripMargin,

    // lower median = rank (cnt+1)//2 in ascending per-pixel value
    // order — exact, no interpolating quantile
    "q_composite_median" ->
      s"""WITH $I,
         |simg0 AS (SELECT * FROM img2
         |          WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |simg AS (SELECT k, image_id, w, h, nw,
         |           (k % 4)*60 - 100 AS x0m, ((k*3) % 4)*60 - 100 AS y0m,
         |           (k % 4)*60 - 100 + w*4 AS x1m,
         |           ((k*3) % 4)*60 - 100 + h*4 AS y1m
         |         FROM simg0),
         |pxc AS (
         |  SELECT CAST(0 AS BIGINT) AS gid,
         |         -120 + xs.i*4 + 2 AS gx, 260 - ys.j*4 - 2 AS gy
         |  FROM (SELECT unnest(generate_series(0, 94)) AS i) xs
         |  CROSS JOIN (SELECT unnest(generate_series(0, 94)) AS j) ys),
         |hit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pxc p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |hv AS (SELECT gid, gx, gy,
         |    200 + (k*3) % 800 + (k % 8)*xi + (k % 8)*yi AS v
         |  FROM hit),
         |rk AS (SELECT gid, gx, gy, v,
         |    ROW_NUMBER() OVER (PARTITION BY gid, gx, gy ORDER BY v)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY gid, gx, gy) AS cnt
         |  FROM hv)
         |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(v) AS BIGINT) AS vsum
         |FROM rk WHERE rn = (cnt + 1)//2
         |GROUP BY gid ORDER BY gid""".stripMargin,

    // cutline mosaic: q_mosaic_pixels' winner-per-pixel restricted to
    // destination centers inside the half-open cut rect (the engine's
    // ray-cast PIP on an axis-aligned ring == [x0,x1)×[y0,y1))
    "q_mosaic_cut" ->
      s"""WITH $I,
         |simg AS (SELECT * FROM img2
         |         WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |g AS (SELECT image_id AS gid, x0m - 512 AS gx0, y0m - 512 AS gy0,
         |        x1m + 512 AS gx1, y1m + 512 AS gy1 FROM simg),
         |gdim AS (SELECT *, (gx1-gx0+3)//4 AS out_w, (gy1-gy0+3)//4 AS out_h
         |         FROM g),
         |cover AS (SELECT DISTINCT gid FROM gdim d JOIN simg i
         |  ON i.x0m < d.gx0 + d.out_w*4 AND d.gx0 < i.x1m
         | AND i.y0m < d.gy1 AND d.gy1 - d.out_h*4 < i.y1m),
         |pxc AS (
         |  SELECT d.gid, d.gx0 + xs.i*4 + 2 AS gx, d.gy1 - ys.j*4 - 2 AS gy
         |  FROM gdim d
         |  JOIN cover c ON c.gid = d.gid
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(d.out_w-1 AS INT))) AS i) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(d.out_h-1 AS INT))) AS j) ys),
         |pcut AS (SELECT * FROM pxc
         |  WHERE gx >= -100000 AND gx < 20000
         |    AND gy >= -40000 AND gy < 30000),
         |hit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pcut p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |win AS (SELECT gid, gx, gy, MAX(k) AS k FROM hit GROUP BY 1,2,3),
         |val AS (SELECT w.gid,
         |    200 + (w.k*3) % 800 + (w.k % 8)*h.xi + (w.k % 8)*h.yi AS v
         |  FROM win w JOIN hit h
         |    ON h.gid = w.gid AND h.gx = w.gx AND h.gy = w.gy AND h.k = w.k),
         |sums AS (SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |                CAST(SUM(v) AS BIGINT) AS vsum
         |         FROM val GROUP BY gid)
         |SELECT c.gid, COALESCE(s.n_valid, 0) AS n_valid,
         |       COALESCE(s.vsum, 0) AS vsum
         |FROM cover c LEFT JOIN sums s USING (gid) ORDER BY gid""".stripMargin,

    // multi-band mosaic: same winner-per-pixel as q_mosaic_pixels (the
    // nodata stripe hits every band, so the max-k winner is band-
    // independent), value from each band's own ramp params
    "q_mosaic_bands" ->
      s"""WITH $I, $B,
         |simg AS (SELECT * FROM img2
         |         WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |g AS (SELECT image_id AS gid, x0m - 512 AS gx0, y0m - 512 AS gy0,
         |        x1m + 512 AS gx1, y1m + 512 AS gy1 FROM simg),
         |gdim AS (SELECT *, (gx1-gx0+3)//4 AS out_w, (gy1-gy0+3)//4 AS out_h
         |         FROM g),
         |cover AS (SELECT DISTINCT gid FROM gdim d JOIN simg i
         |  ON i.x0m < d.gx0 + d.out_w*4 AND d.gx0 < i.x1m
         | AND i.y0m < d.gy1 AND d.gy1 - d.out_h*4 < i.y1m),
         |pxc AS (
         |  SELECT d.gid, d.gx0 + xs.i*4 + 2 AS gx, d.gy1 - ys.j*4 - 2 AS gy
         |  FROM gdim d
         |  JOIN cover c ON c.gid = d.gid
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(d.out_w-1 AS INT))) AS i) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(d.out_h-1 AS INT))) AS j) ys),
         |hit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pxc p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |win AS (SELECT gid, gx, gy, MAX(k) AS k FROM hit GROUP BY 1,2,3),
         |val AS (SELECT w.gid, p.b AS band,
         |    p.base + p.ax*h.xi + p.ay*h.yi AS v
         |  FROM win w JOIN hit h
         |    ON h.gid = w.gid AND h.gx = w.gx AND h.gy = w.gy AND h.k = w.k
         |  JOIN bandp p ON p.k = w.k),
         |sums AS (SELECT gid, band, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |                CAST(SUM(v) AS BIGINT) AS vsum
         |         FROM val GROUP BY gid, band)
         |SELECT c.gid, CAST(bn.b AS BIGINT) AS band,
         |       COALESCE(s.n_valid, 0) AS n_valid,
         |       COALESCE(s.vsum, 0) AS vsum
         |FROM cover c CROSS JOIN bands bn
         |LEFT JOIN sums s ON s.gid = c.gid AND s.band = bn.b
         |ORDER BY 1, 2""".stripMargin,

    // nearest resize to 16×16: xi = ((2x+1)·w)//32, yi likewise —
    // the engine's integer pixel-center map replayed verbatim
    "q_resize" ->
      s"""WITH $I, $B, $SimgCte,
         |t AS (SELECT s.k, s.image_id, s.nw, p.base, p.ax, p.ay,
         |        ((2*xs.x+1)*s.w)//32 AS xi, ((2*ys.y+1)*s.h)//32 AS yi
         |      FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, 15)) AS x) xs
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, 15)) AS y) ys)
         |SELECT image_id,
         |  CAST(COUNT(CASE WHEN xi >= nw THEN 1 END) AS BIGINT) AS n_valid,
         |  CAST(COALESCE(SUM(CASE WHEN xi >= nw
         |    THEN base + ax*xi + ay*yi END), 0) AS BIGINT) AS vsum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // aspect-preserving content dims (long axis → 16, floor scale,
    // min 1) + the same pixel-center nearest index replay as q_resize
    "q_letterbox" ->
      s"""WITH $I, $B, $SimgCte,
         |d AS (SELECT s.k, s.image_id, s.w, s.h, s.nw,
         |        p.base, p.ax, p.ay,
         |        CASE WHEN s.w >= s.h THEN 16
         |             ELSE GREATEST(1, (s.w*16)//s.h) END AS cw,
         |        CASE WHEN s.w >= s.h THEN GREATEST(1, (s.h*16)//s.w)
         |             ELSE 16 END AS ch
         |      FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0),
         |t AS (SELECT d.*, ((2*xs.x+1)*w)//(2*cw) AS xi,
         |        ((2*ys.y+1)*h)//(2*ch) AS yi
         |      FROM d
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, cw-1)) AS x) xs
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, ch-1)) AS y) ys)
         |SELECT image_id, CAST(cw AS BIGINT) AS cw,
         |  CAST(ch AS BIGINT) AS ch,
         |  CAST((16-ch)//2 AS BIGINT) AS pad_top,
         |  CAST((16-cw)//2 AS BIGINT) AS pad_left,
         |  CAST(COUNT(CASE WHEN xi >= nw THEN 1 END) AS BIGINT)
         |    AS n_valid,
         |  CAST(COALESCE(SUM(CASE WHEN xi >= nw
         |    THEN base + ax*xi + ay*yi END), 0) AS BIGINT) AS vsum
         |FROM t GROUP BY 1, 2, 3, 4, 5 ORDER BY 1""".stripMargin,

    "q_warp_grid" ->
      s"""WITH $I
         |SELECT image_id, (w*4+9)//10 AS out_w, (h*4+9)//10 AS out_h
         |FROM img2 ORDER BY image_id""".stripMargin,

    "q_warp_grid_crop" ->
      s"""WITH $I, $P,
         |j AS (SELECT i.image_id, p.fid, i.x0m, i.y0m, i.x1m, i.y1m,
         |        p.px0m, p.py0m, p.px1m, p.py1m,
         |        GREATEST(i.x0m, p.px0m) AS ix0, GREATEST(i.y0m, p.py0m) AS iy0,
         |        LEAST(i.x1m, p.px1m) AS ix1, LEAST(i.y1m, p.py1m) AS iy1
         |      FROM img2 i JOIN poly2 p ON p.fid = i.k % 25
         |       AND i.x0m < p.px1m AND p.px0m < i.x1m
         |       AND i.y0m < p.py1m AND p.py0m < i.y1m),
         |a AS (SELECT image_id, fid,
         |        px0m + ((ix0 - px0m)//10)*10 AS x0a,
         |        py1m - ((py1m - iy1)//10)*10 AS y1a, ix1, iy0
         |      FROM j)
         |SELECT image_id, fid, x0a, y1a,
         |       (ix1 - x0a + 9)//10 AS cw, (y1a - iy0 + 9)//10 AS ch
         |FROM a ORDER BY image_id""".stripMargin,

    "q_mosaic_extent" ->
      s"""WITH $I
         |SELECT k % 50 AS gid, MIN(x0m) AS ux0, MIN(y0m) AS uy0,
         |       MAX(x1m) AS ux1, MAX(y1m) AS uy1,
         |       (MAX(x1m) - MIN(x0m) + 9)//10 AS out_w,
         |       (MAX(y1m) - MIN(y0m) + 9)//10 AS out_h
         |FROM img2 GROUP BY 1 ORDER BY gid""".stripMargin,

    "q_overlay_order" ->
      s"""WITH $I, $P,
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
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_indices_stats" -> indicesOracleSql,

    "q_histogram" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |mm AS (SELECT s.k, s.image_id, p.base + p.ax*s.nw AS vmin,
         |         p.base + p.ax*(s.w-1) + p.ay*(s.h-1) AS vmax
         |       FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 2),
         |hb AS (SELECT px.k,
         |         CASE WHEN m.vmax = m.vmin THEN CAST(0 AS BIGINT)
         |              ELSE LEAST(15, CAST(FLOOR((CAST(px.v AS DOUBLE) - m.vmin) /
         |                   ((CAST(m.vmax AS DOUBLE) - m.vmin)/16.0)) AS BIGINT))
         |         END AS bin
         |       FROM px JOIN mm m ON px.k = m.k WHERE px.b = 2)
         |SELECT m2.image_id, hb.bin, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM hb JOIN mm m2 ON m2.k = hb.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // corpus bounds = min/max of the per-image closed forms; same
    // FLOOR bin rule as q_histogram but into the shared bounds
    "q_corpus_hist" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |mm AS (SELECT MIN(p.base + p.ax*s.nw) AS vmin,
         |         MAX(p.base + p.ax*(s.w-1) + p.ay*(s.h-1)) AS vmax
         |       FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 2),
         |hb AS (SELECT
         |         LEAST(15, CAST(FLOOR((CAST(px.v AS DOUBLE) - m.vmin) /
         |           ((CAST(m.vmax AS DOUBLE) - m.vmin)/16.0)) AS BIGINT))
         |           AS bin
         |       FROM px CROSS JOIN mm m WHERE px.b = 2)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM hb GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_percentile" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |mm AS (SELECT s.k, s.image_id, (s.w - s.nw)*s.h AS cnt,
         |         p.base + p.ax*s.nw AS vmin,
         |         p.base + p.ax*(s.w-1) + p.ay*(s.h-1) AS vmax
         |       FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 3),
         |hb AS (SELECT px.k,
         |         LEAST(99, CAST(FLOOR((CAST(px.v AS DOUBLE) - m.vmin) /
         |              ((CAST(m.vmax AS DOUBLE) - m.vmin)/100.0)) AS BIGINT)) AS bin,
         |         COUNT(*) AS cnt
         |       FROM px JOIN mm m ON px.k = m.k
         |       WHERE px.b = 3 AND m.vmax <> m.vmin GROUP BY 1, 2),
         |cu AS (SELECT k, bin, cnt,
         |         SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum
         |       FROM hb),
         |pcts AS (SELECT unnest([25.0, 50.0, 75.0]) AS pct),
         |tgt AS (SELECT m.k, m.image_id, p.pct, p.pct/100.0*m.cnt AS target,
         |          CAST(m.vmin AS DOUBLE) AS vmin, CAST(m.vmax AS DOUBLE) AS vmax
         |        FROM mm m, pcts p),
         |sel AS (SELECT t.k, t.image_id, t.pct,
         |          CASE WHEN t.vmax = t.vmin THEN t.vmin
         |               ELSE t.vmin + (t.vmax - t.vmin)/100.0 *
         |                    (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
         |          END AS res
         |        FROM tgt t LEFT JOIN cu c ON c.k = t.k
         |          AND c.cum >= t.target AND c.cum - c.cnt < t.target)
         |SELECT image_id,
         |  MAX(CASE WHEN pct = 25.0 THEN CAST(FLOOR(res*1e6) AS BIGINT) END) AS fp25,
         |  MAX(CASE WHEN pct = 50.0 THEN CAST(FLOOR(res*1e6) AS BIGINT) END) AS fp50,
         |  MAX(CASE WHEN pct = 75.0 THEN CAST(FLOOR(res*1e6) AS BIGINT) END) AS fp75
         |FROM sel GROUP BY image_id ORDER BY image_id""".stripMargin,

    "q_laplacian" ->
      s"""WITH $I, $B, $SimgCte,
         |g AS (SELECT s.k, s.image_id, s.w, s.h, p.ax, p.ay, xs.x, ys.y
         |      FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0
         |      CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |        CAST(s.w-1 AS INT))) AS x) xs
         |      CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |        CAST(s.h-1 AS INT))) AS y) ys
         |      WHERE xs.x >= s.nw + LEAST(s.nw, 1))
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(ax*(GREATEST(0,x-1)+LEAST(w-1,x+1)-2*x) +
         |           ay*(GREATEST(0,y-1)+LEAST(h-1,y+1)-2*y)) AS BIGINT)
         |    AS lap_sum
         |FROM g GROUP BY image_id ORDER BY image_id""".stripMargin,

    "q_convolve_box" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |pos AS (SELECT s.k, s.image_id, s.w, s.h, s.nw, xs.x, ys.y
         |        FROM simg s
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |          CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |          CAST(s.h-1 AS INT))) AS y) ys),
         |offs AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |              (SELECT unnest([-1,0,1]) AS dy) b),
         |inter AS (SELECT pos.k, pos.image_id, pos.x, pos.y,
         |            pos.x + o.dx AS xx, pos.y + o.dy AS yy
         |          FROM pos, offs o
         |          WHERE pos.x >= 1 AND pos.x <= pos.w-2
         |            AND pos.y >= 1 AND pos.y <= pos.h-2),
         |nb AS (SELECT i.k, i.image_id, i.x, i.y,
         |         SUM(p.v) AS acc, COUNT(*) AS nv
         |       FROM inter i JOIN px p ON p.k = i.k AND p.b = 0
         |         AND p.x = i.xx AND p.y = i.yy
         |       GROUP BY i.k, i.image_id, i.x, i.y),
         |outs AS (
         |  SELECT pos.image_id, CAST(p.v AS DOUBLE) AS o
         |  FROM pos JOIN px p ON p.k = pos.k AND p.b = 0
         |    AND p.x = pos.x AND p.y = pos.y
         |  WHERE pos.x < 1 OR pos.x > pos.w-2 OR pos.y < 1 OR pos.y > pos.h-2
         |  UNION ALL
         |  SELECT image_id, CAST(acc AS DOUBLE)/nv FROM nb)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(FLOOR(o*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |FROM outs GROUP BY image_id ORDER BY image_id""".stripMargin,

    "q_spectral_stats" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |sp AS (SELECT k, x, y, SUM(v) AS sv, SUM(v*v) AS s2, COUNT(*) AS c
         |       FROM px GROUP BY k, x, y),
         |m AS (SELECT k, CAST(sv AS DOUBLE)/c AS mean,
         |        sqrt(GREATEST(0.0, CAST(s2 AS DOUBLE)/c -
         |             (CAST(sv AS DOUBLE)/c)*(CAST(sv AS DOUBLE)/c))) AS sd
         |      FROM sp)
         |SELECT i.image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(CAST(FLOOR(mean*1e6) AS BIGINT)) AS BIGINT) AS mean_fsum,
         |  CAST(SUM(CAST(FLOOR(sd*1e6) AS BIGINT)) AS BIGINT) AS sd_fsum
         |FROM m JOIN img2 i ON i.k = m.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // zonal stats ground truth: regenerate the small-raw pixels, map
    // each to its geo CENTER (x0m + 4x + 2, y1m − 4y − 2), keep those
    // inside [p0, p1) of each overlapping polygon, roll up per fid
    "q_zonal_stats" ->
      s"""WITH $I, $P, $B, $SimgCte, $PxCte,
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
         |FROM zp GROUP BY fid ORDER BY fid""".stripMargin,

    // zonal majority replay: same center-in-rect pixel join, q = v//256
    // histogram per zone, majority/minority via opposite-order ranks
    "q_zonal_majority" ->
      s"""WITH $I, $P, $B, $SimgCte, $PxCte,
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
         |FROM zmr GROUP BY fid ORDER BY fid""".stripMargin,

    // concave L-ring zonal: inclusion = union of two half-open rects
    // (lower full-width slab + upper left-of-cut slab) — the exact SQL
    // statement of the engine's ray-cast PIP on this axis-aligned ring
    "q_zonal_poly" ->
      s"""WITH $I, $P, $B, $SimgCte, $PxCte,
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
         |FROM zp GROUP BY fid ORDER BY fid""".stripMargin,

    // the 6-vertex L-ring rebuilt from the layer params; shoelace +
    // centroid numerators over the wrapped edge list
    "q_geom_measures" ->
      s"""WITH $P,
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
         |FROM e GROUP BY fid ORDER BY fid""".stripMargin,

    "q_vector_where" ->
      s"""WITH $P
         |SELECT fid, CAST(px0m AS BIGINT) AS px0m,
         |  CAST(py0m AS BIGINT) AS py0m, CAST(px1m AS BIGINT) AS px1m,
         |  CAST(py1m AS BIGINT) AS py1m FROM poly2
         |WHERE pwm > 20000 AND fid % 2 = 0 ORDER BY fid""".stripMargin,

    // spectral scatter: closed-form ramp sums per band pair — with
    // W = w−nw, N = W·h, Svsum_b = base_b·N + ax_b·sx·h + ay_b·sy·W,
    // Q_ab expands over (sx, sx2, sy, sy2, sx·sy)
    "q_spectral_cov" ->
      s"""WITH $I, $B, $SimgCte,
         |stat AS (
         |  SELECT s.k, s.image_id, (s.w - s.nw)*s.h AS n,
         |    ((s.w-1)*s.w)//2 - ((s.nw-1)*s.nw)//2 AS sx,
         |    ((s.w-1)*s.w*(2*s.w-1))//6
         |      - ((s.nw-1)*s.nw*(2*s.nw-1))//6 AS sx2,
         |    (s.h*(s.h-1))//2 AS sy,
         |    ((s.h-1)*s.h*(2*s.h-1))//6 AS sy2,
         |    s.w - s.nw AS ww, s.h AS hh
         |  FROM simg s),
         |pr AS (SELECT a.k, a.b AS ba, b.b AS bb,
         |         a.base AS base_a, a.ax AS ax_a, a.ay AS ay_a,
         |         b.base AS base_b, b.ax AS ax_b, b.ay AS ay_b
         |       FROM bandp a JOIN bandp b
         |         ON b.k = a.k AND b.b >= a.b)
         |SELECT t.image_id, CAST(p.ba AS BIGINT) AS ba,
         |  CAST(p.bb AS BIGINT) AS bb,
         |  t.n * (p.base_a*p.base_b*t.n
         |    + p.base_a*(p.ax_b*t.sx*t.hh + p.ay_b*t.sy*t.ww)
         |    + p.base_b*(p.ax_a*t.sx*t.hh + p.ay_a*t.sy*t.ww)
         |    + p.ax_a*p.ax_b*t.sx2*t.hh + p.ay_a*p.ay_b*t.sy2*t.ww
         |    + (p.ax_a*p.ay_b + p.ax_b*p.ay_a)*t.sx*t.sy)
         |  - (p.base_a*t.n + p.ax_a*t.sx*t.hh + p.ay_a*t.sy*t.ww)
         |    * (p.base_b*t.n + p.ax_b*t.sx*t.hh + p.ay_b*t.sy*t.ww)
         |  AS mval
         |FROM stat t JOIN pr p ON p.k = t.k
         |ORDER BY 1, 2, 3""".stripMargin,

    // exact-integer RXD: 16 seeded samples (read_random_pixels index
    // formula), bands 0-2; M = n·Q − S·Sᵀ + I (HUGEINT), det by
    // cofactor expansion, adj(M) entries, per-sample y = n·v − S,
    // num = Σ yᵀ·adj(M)·y — all integer, compared as decimal strings
    "q_rxd_exact" ->
      s"""WITH $I, $B, $SimgCte,
         |samp AS (SELECT s.k, s.image_id, s.w, s.h, s.nw,
         |    (s.k*1103515245 + ii.i*2654435761) % (s.w*s.h) AS idx
         |  FROM simg s CROSS JOIN
         |    (SELECT unnest(generate_series(0, 15)) AS i) ii),
         |sv AS (SELECT p.k, p.image_id,
         |    b0.base + b0.ax*(p.idx % p.w) + b0.ay*(p.idx // p.w) AS v0,
         |    b1.base + b1.ax*(p.idx % p.w) + b1.ay*(p.idx // p.w) AS v1,
         |    b2.base + b2.ax*(p.idx % p.w) + b2.ay*(p.idx // p.w) AS v2
         |  FROM samp p
         |  JOIN bandp b0 ON b0.k = p.k AND b0.b = 0
         |  JOIN bandp b1 ON b1.k = p.k AND b1.b = 1
         |  JOIN bandp b2 ON b2.k = p.k AND b2.b = 2
         |  WHERE (p.idx % p.w) >= p.nw),
         |ag AS (SELECT k, image_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(v0) AS s0, SUM(v1) AS s1, SUM(v2) AS s2,
         |    SUM(v0*v0) AS q00, SUM(v0*v1) AS q01, SUM(v0*v2) AS q02,
         |    SUM(v1*v1) AS q11, SUM(v1*v2) AS q12, SUM(v2*v2) AS q22
         |  FROM sv GROUP BY 1, 2),
         |mm AS (SELECT k, image_id, n, s0, s1, s2,
         |    CAST(n*q00 - s0*s0 + 1 AS HUGEINT) AS m00,
         |    CAST(n*q01 - s0*s1 AS HUGEINT) AS m01,
         |    CAST(n*q02 - s0*s2 AS HUGEINT) AS m02,
         |    CAST(n*q11 - s1*s1 + 1 AS HUGEINT) AS m11,
         |    CAST(n*q12 - s1*s2 AS HUGEINT) AS m12,
         |    CAST(n*q22 - s2*s2 + 1 AS HUGEINT) AS m22
         |  FROM ag),
         |dd AS (SELECT *,
         |    m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m02*m12)
         |      + m02*(m01*m12 - m02*m11) AS det3,
         |    (m11*m22 - m12*m12) AS a00,
         |    (m02*m12 - m01*m22) AS a01,
         |    (m01*m12 - m02*m11) AS a02,
         |    (m00*m22 - m02*m02) AS a11,
         |    (m02*m01 - m00*m12) AS a12,
         |    (m00*m11 - m01*m01) AS a22
         |  FROM mm),
         |ys AS (SELECT d.*,
         |    CAST(d.n*v.v0 - d.s0 AS HUGEINT) AS y0,
         |    CAST(d.n*v.v1 - d.s1 AS HUGEINT) AS y1,
         |    CAST(d.n*v.v2 - d.s2 AS HUGEINT) AS y2
         |  FROM dd d JOIN sv v ON v.k = d.k),
         |res AS (SELECT k, image_id, n, det3,
         |    SUM(y0*y0*a00 + y1*y1*a11 + y2*y2*a22
         |      + 2*(y0*y1*a01 + y0*y2*a02 + y1*y2*a12)) AS num
         |  FROM ys GROUP BY 1, 2, 3, 4)
         |SELECT s.image_id, COALESCE(r.n, 0) AS n_valid,
         |  COALESCE(CAST(r.det3 AS VARCHAR), '0') AS rx_det,
         |  COALESCE(CAST(r.num AS VARCHAR), '0') AS rx_num
         |FROM simg s LEFT JOIN res r ON r.image_id = s.image_id
         |ORDER BY 1""".stripMargin,

    // bilinear 2×: per dst column i (0..2w−1), left sample x1 =
    // i//2 − (1 − i%2), weights (wa, 4−wa) with wa = 1 for even i /
    // 3 for odd; replicate-clamp; valid iff the clamped LEFT column
    // ≥ nw. Separability: Σ16·out over the valid dst grid =
    // 16·base·nX·nY + 4·ax·ΣX·nY + 4·ay·ΣY·nX
    "q_warp_bilinear2x" ->
      s"""WITH $I, $B, $SimgCte,
         |xs AS (SELECT s.k, s.nw, ii.i,
         |    GREATEST(0, LEAST(s.w-1,
         |      ii.i//2 - (1 - ii.i % 2))) AS x1c,
         |    GREATEST(0, LEAST(s.w-1,
         |      ii.i//2 - (1 - ii.i % 2) + 1)) AS x2c,
         |    CASE WHEN ii.i % 2 = 0 THEN 1 ELSE 3 END AS wa
         |  FROM simg s CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, CAST(2*s.w-1 AS INT))) AS i) ii),
         |xagg AS (SELECT k,
         |    CAST(COUNT(CASE WHEN x1c >= nw THEN 1 END) AS BIGINT) AS nx,
         |    CAST(COALESCE(SUM(CASE WHEN x1c >= nw
         |      THEN wa*x1c + (4-wa)*x2c END), 0) AS BIGINT) AS sx
         |  FROM xs GROUP BY k),
         |ys AS (SELECT s.k, jj.j,
         |    GREATEST(0, LEAST(s.h-1,
         |      jj.j//2 - (1 - jj.j % 2))) AS y1c,
         |    GREATEST(0, LEAST(s.h-1,
         |      jj.j//2 - (1 - jj.j % 2) + 1)) AS y2c,
         |    CASE WHEN jj.j % 2 = 0 THEN 1 ELSE 3 END AS wa
         |  FROM simg s CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, CAST(2*s.h-1 AS INT))) AS j) jj),
         |yagg AS (SELECT k,
         |    CAST(COUNT(*) AS BIGINT) AS ny,
         |    CAST(SUM(wa*y1c + (4-wa)*y2c) AS BIGINT) AS sy
         |  FROM ys GROUP BY k)
         |SELECT s.image_id, x.nx * y.ny AS n_valid,
         |  16*p.base*x.nx*y.ny + 4*p.ax*x.sx*y.ny + 4*p.ay*y.sy*x.nx
         |    AS vsum16
         |FROM simg s
         |JOIN bandp p ON p.k = s.k AND p.b = 0
         |JOIN xagg x ON x.k = s.k
         |JOIN yagg y ON y.k = s.k
         |ORDER BY s.image_id""".stripMargin,

    "q_warp_nearest2x" ->
      s"""WITH $I, $B, $SimgCte,
         |stat AS (
         |  SELECT s.image_id, s.w, s.h, s.nw, p.base, p.ax, p.ay,
         |    ((s.w-1)*s.w)//2 - ((s.nw-1)*s.nw)//2 AS sx,
         |    (s.h*(s.h-1))//2 AS sy
         |  FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0)
         |SELECT image_id, 4*(w-nw)*h AS n_valid,
         |  4*(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw)) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin,

    // overview-aware warp: dst pixel (i,j) at res 3 reads level-2
    // overview cell (xi, yi) = ((6i+3)//4, (6j+3)//4) = base pixel
    // (2xi, 2yi); out of the ceil(w/2)×ceil(h/2) overview → nodata
    "q_warp_overview" ->
      s"""WITH $I, $B, $SimgCte,
         |wod AS (SELECT s.k, s.image_id, s.w, s.h, s.nw,
         |    (s.w+2)//3 AS dw, (s.h+2)//3 AS dh,
         |    (s.w+1)//2 AS ow, (s.h+1)//2 AS oh,
         |    p.base, p.ax, p.ay
         |  FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0),
         |wpx AS (SELECT o.image_id,
         |    CASE WHEN (6*xs.i+3)//4 < o.ow AND (6*ys.j+3)//4 < o.oh
         |          AND 2*((6*xs.i+3)//4) >= o.nw THEN 1 ELSE 0 END AS ok,
         |    o.base + o.ax*2*((6*xs.i+3)//4)
         |           + o.ay*2*((6*ys.j+3)//4) AS v
         |  FROM wod o
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(o.dw-1 AS INT))) AS i) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(o.dh-1 AS INT))) AS j) ys)
         |SELECT image_id, CAST(SUM(ok) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN ok=1 THEN v ELSE 0 END) AS BIGINT) AS vsum
         |FROM wpx GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_band_select" ->
      s"""WITH $I, $B, $SimgCte,
         |sel AS (SELECT 0 AS ob, 3 AS b UNION ALL SELECT 1 AS ob, 2 AS b),
         |stat AS (
         |  SELECT s.image_id, sel.ob, s.w, s.h, s.nw, p.base, p.ax, p.ay,
         |    ((s.w-1)*s.w)//2 - ((s.nw-1)*s.nw)//2 AS sx,
         |    ((s.w-1)*s.w*(2*s.w-1))//6 - ((s.nw-1)*s.nw*(2*s.nw-1))//6 AS sx2,
         |    (s.h*(s.h-1))//2 AS sy,
         |    ((s.h-1)*s.h*(2*s.h-1))//6 AS sy2
         |  FROM simg s CROSS JOIN sel JOIN bandp p ON p.k = s.k AND p.b = sel.b)
         |SELECT image_id, CAST(ob AS BIGINT) AS band,
         |  (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy AS vsumsq
         |FROM stat ORDER BY image_id, band""".stripMargin,

    "q_mask_apply" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |m AS (SELECT k, CAST(n AS BIGINT) AS nv FROM pxd WHERE b > 500)
         |SELECT i.image_id, CAST(COUNT(m.nv) AS BIGINT) AS n_valid,
         |  COALESCE(CAST(SUM(m.nv) AS BIGINT), 0) AS vsum
         |FROM simg i LEFT JOIN m ON m.k = i.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_overview_l2" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |ov AS (SELECT k, v FROM px
         |       WHERE b = 0 AND x % 2 = 0 AND y % 2 = 0)
         |SELECT i.image_id, CAST(COUNT(ov.v) AS BIGINT) AS n_valid,
         |  COALESCE(CAST(SUM(ov.v) AS BIGINT), 0) AS vsum
         |FROM simg i LEFT JOIN ov ON ov.k = i.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_overview_pyramid" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |lv AS (SELECT unnest([2,4,8]) AS l),
         |ov AS (SELECT s.image_id, lv.l,
         |         COUNT(p.v) AS n_valid, COALESCE(SUM(p.v), 0) AS vsum
         |       FROM simg s CROSS JOIN lv
         |       LEFT JOIN px p ON p.k = s.k AND p.b = 0
         |         AND p.x % lv.l = 0 AND p.y % lv.l = 0
         |       GROUP BY 1, 2)
         |SELECT image_id, CAST(l AS BIGINT) AS level,
         |       CAST(n_valid AS BIGINT) AS n_valid,
         |       CAST(vsum AS BIGINT) AS vsum
         |FROM ov ORDER BY image_id, level""".stripMargin,

    "q_intersection_geom" ->
      s"""WITH $I, $P, $joinCte
         |SELECT image_id, fid, CAST(4 AS BIGINT) AS inter_nvert,
         |       overlap_area AS inter_area
         |FROM j ORDER BY image_id, fid""".stripMargin,

    "q_img_embedding" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte
         |SELECT s.image_id, CAST(q.byi*8 + q.bxi AS BIGINT) AS bi, q.mq
         |FROM bq q JOIN simg s ON s.k = q.k
         |ORDER BY image_id, bi""".stripMargin,

    "q_phash_pairs" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte
         |SELECT a.image_id AS id_a, b.image_id AS id_b,
         |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
         |FROM phi a JOIN phi b ON a.image_id < b.image_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 16
         |ORDER BY 1, 2""".stripMargin,

    "q_phash_banded" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte,
         |bnd AS (SELECT image_id, phash, j.bj,
         |          (phash >> (j.bj*16)) & 65535 AS bk
         |        FROM phi CROSS JOIN (SELECT unnest([0,1,2,3]) AS bj) j),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         |           a.phash AS pha, b.phash AS phb
         |         FROM bnd a JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk
         |         WHERE a.image_id < b.image_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(pha, phb)) AS BIGINT) AS dist
         |FROM cand WHERE bit_count(xor(pha, phb)) <= 16
         |ORDER BY 1, 2""".stripMargin,

    "q_dhash" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $DhashCte
         |SELECT image_id, dhash FROM dhi
         |ORDER BY image_id""".stripMargin,

    "q_dhash_banded" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $DhashCte,
         |bnd AS (SELECT image_id, dhash, j.bj,
         |          (dhash >> (j.bj*16)) & 65535 AS bk
         |        FROM dhi CROSS JOIN (SELECT unnest([0,1,2,3]) AS bj) j),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         |           a.dhash AS dha, b.dhash AS dhb
         |         FROM bnd a JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk
         |         WHERE a.image_id < b.image_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(dha, dhb)) AS BIGINT) AS dist
         |FROM cand WHERE bit_count(xor(dha, dhb)) <= 24
         |ORDER BY 1, 2""".stripMargin,

    "q_ycbcr_stats" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |pxw AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS vb0,
         |    MAX(CASE WHEN b=1 THEN v END) AS vb1,
         |    MAX(CASE WHEN b=2 THEN v END) AS vb2
         |  FROM px WHERE b IN (0, 1, 2) GROUP BY k, x, y),
         |yc AS (SELECT k, 299*vb2 + 587*vb1 + 114*vb0 AS y1000,
         |         vb0, vb2 FROM pxw)
         |SELECT s.image_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_px,
         |       CAST(SUM(y.y1000) AS BIGINT) AS y_sum,
         |       CAST(MIN(y.y1000) AS BIGINT) AS y_min,
         |       CAST(MAX(y.y1000) AS BIGINT) AS y_max,
         |       CAST(SUM(564*(1000*y.vb0 - y.y1000)) AS BIGINT) AS cb_sum,
         |       CAST(SUM(713*(1000*y.vb2 - y.y1000)) AS BIGINT) AS cr_sum
         |FROM yc y JOIN simg s ON s.k = y.k
         |GROUP BY s.image_id ORDER BY s.image_id""".stripMargin,

    "q_hue_hist" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |pxw AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS vb,
         |    MAX(CASE WHEN b=1 THEN v END) AS vg,
         |    MAX(CASE WHEN b=2 THEN v END) AS vr
         |  FROM px WHERE b IN (0, 1, 2) GROUP BY k, x, y),
         |hs AS (SELECT k,
         |    GREATEST(vr, vg, vb) - LEAST(vr, vg, vb) AS c,
         |    CASE WHEN GREATEST(vr, vg, vb) = LEAST(vr, vg, vb) THEN 6
         |         WHEN GREATEST(vr, vg, vb) = vr THEN
         |           CASE WHEN vg >= vb THEN 0 ELSE 5 END
         |         WHEN GREATEST(vr, vg, vb) = vg THEN
         |           CASE WHEN vb < vr THEN 1 ELSE 2 END
         |         ELSE CASE WHEN vr < vg THEN 3 ELSE 4 END
         |    END AS sector
         |  FROM pxw)
         |SELECT s.image_id, CAST(h.sector AS BIGINT) AS sector,
         |       CAST(COUNT(*) AS BIGINT) AS n_px,
         |       CAST(SUM(h.c) AS BIGINT) AS chroma_sum
         |FROM hs h JOIN simg s ON s.k = h.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dither" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |dt AS (SELECT p.k, p.x, p.y, s.w,
         |    CASE WHEN p.v > 64*(2*([0,8,2,10,12,4,14,6,3,11,1,9,
         |      15,7,13,5][CAST((p.y%4)*4 + (p.x%4) AS INT) + 1]) + 1)
         |      THEN 1 ELSE 0 END AS bit
         |  FROM px p JOIN simg s ON s.k = p.k WHERE p.b = 0)
         |SELECT s.image_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(d.bit) AS BIGINT) AS n_on,
         |       CAST(SUM(CASE WHEN d.bit = 1 THEN d.x + d.w*d.y
         |                ELSE 0 END) AS BIGINT) AS pos_sum
         |FROM dt d JOIN simg s ON s.k = d.k
         |GROUP BY s.image_id ORDER BY s.image_id""".stripMargin,

    // same banded candidates + d≤16 edges, then recursive-CTE
    // reachability → min-label per image (the CC ground truth)
    "q_phash_clusters" ->
      s"""WITH RECURSIVE $I, $B, $SimgCte, $PxCte, $PhashCte,
         |bnd AS (SELECT image_id, phash, j.bj,
         |          (phash >> (j.bj*16)) & 65535 AS bk
         |        FROM phi CROSS JOIN (SELECT unnest([0,1,2,3]) AS bj) j),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         |           a.phash AS pha, b.phash AS phb
         |         FROM bnd a JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk
         |         WHERE a.image_id < b.image_id),
         |e AS (SELECT id_a AS u, id_b AS v FROM cand
         |        WHERE bit_count(xor(pha, phb)) <= 16
         |      UNION ALL
         |      SELECT id_b, id_a FROM cand
         |        WHERE bit_count(xor(pha, phb)) <= 16),
         |reach AS (
         |  SELECT image_id AS v, image_id AS l FROM phi
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN e ON e.u = r.v)
         |SELECT v AS image_id, MIN(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY image_id""".stripMargin,

    // patch coords = (x//16, y//16); local weight = (y%16)·16 + x%16
    "q_patchify" ->
      s"""WITH $I, $B, $SimgCte, $PxCte
         |SELECT s.image_id,
         |  CAST(px.x // 16 AS BIGINT) AS px,
         |  CAST(px.y // 16 AS BIGINT) AS py,
         |  CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(px.v AS BIGINT) * 1000000 *
         |      ((px.y % 16) * 16 + (px.x % 16))) AS BIGINT) AS checksum
         |FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0
         |GROUP BY 1, 2, 3 ORDER BY image_id, py, px""".stripMargin,

    "q_caption_dedup" ->
      s"""WITH $I
         |SELECT md5(caption) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  MIN(k) AS min_doc_id
         |FROM img2 GROUP BY 1 ORDER BY h""".stripMargin,

    "q_caption_vocab" ->
      s"""WITH $I,
         |ct AS (SELECT k, unnest(string_split(caption, ' ')) AS term
         |       FROM img2)
         |SELECT term, CAST(COUNT(DISTINCT k) AS BIGINT) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS cf
         |FROM ct GROUP BY term ORDER BY cf DESC, term LIMIT 40""".stripMargin,

    // same md5 anchor draw in SQL; window filter over px + local
    // (y−y0)·12 + (x−x0) weights
    "q_augment_crop" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |anch AS (SELECT k, image_id, w, h,
         |    ${Md5BucketSql("image_id || ':x'")} % (w - 11) AS x0,
         |    ${Md5BucketSql("image_id || ':y'")} % (h - 11) AS y0
         |  FROM simg)
         |SELECT a.image_id, CAST(a.x0 AS BIGINT) AS x0,
         |  CAST(a.y0 AS BIGINT) AS y0,
         |  CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(px.v AS BIGINT) * 1000000 *
         |      ((px.y - a.y0) * 12 + (px.x - a.x0))) AS BIGINT)
         |    AS checksum
         |FROM px JOIN anch a ON a.k = px.k
         |WHERE px.b = 0 AND px.x >= a.x0 AND px.x < a.x0 + 12
         |  AND px.y >= a.y0 AND px.y < a.y0 + 12
         |GROUP BY 1, 2, 3 ORDER BY image_id""".stripMargin,

    // greedy first-fit replayed as a per-writer recursive chain over
    // row_number; nbytes from the raw-codec layout (6 bands × 2/4 B)
    "q_pack_shards" ->
      s"""WITH RECURSIVE $I, $SimgCte,
         |sized AS (SELECT image_id,
         |    CAST(CASE fmt WHEN 'raw-i16le' THEN 12*w*h
         |                  ELSE 24*w*h END AS BIGINT) AS nbytes,
         |    ${Md5BucketSql("image_id")} % 2 AS writer
         |  FROM simg),
         |it AS (SELECT image_id, nbytes, writer,
         |    ROW_NUMBER() OVER (PARTITION BY writer ORDER BY image_id)
         |      AS rn FROM sized),
         |rec AS (
         |  SELECT image_id, nbytes, writer, rn,
         |    CAST(0 AS BIGINT) AS shard, CAST(0 AS BIGINT) AS off,
         |    nbytes AS used
         |  FROM it WHERE rn = 1
         |  UNION ALL
         |  SELECT i.image_id, i.nbytes, i.writer, i.rn,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.shard
         |         ELSE r.shard + 1 END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used
         |         ELSE CAST(0 AS BIGINT) END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used + i.nbytes
         |         ELSE i.nbytes END
         |  FROM rec r JOIN it i ON i.writer = r.writer AND i.rn = r.rn + 1)
         |SELECT image_id, writer, nbytes, shard, off AS offset
         |FROM rec ORDER BY image_id""".stripMargin,

    // composed image-curation replay: resolution flag + caption
    // keep-one pick the kept set, then the q_ar_buckets and
    // q_pack_shards fragments run over ONLY the survivors (the
    // pipeline coupling); dropped rows LEFT JOIN to NULLs
    "q_curate_images" ->
      s"""WITH RECURSIVE $I,
         |cimg AS (SELECT * FROM img2
         |  WHERE w <= 96 AND h <= 96 AND k % 6 IN (1, 2)),
         |fl2 AS (SELECT s.image_id, s.w, s.h, s.fmt,
         |    CASE WHEN s.w*s.h <= 4000 THEN 1 ELSE 0 END AS pass_meta,
         |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY s.caption
         |      ORDER BY s.image_id) = 1 THEN 1 ELSE 0 END AS is_canonical,
         |    CASE WHEN s.w*s.h <= 4000 AND ROW_NUMBER() OVER (
         |      PARTITION BY s.caption ORDER BY s.image_id) = 1
         |      THEN 1 ELSE 0 END AS keep
         |  FROM cimg s),
         |kept AS (SELECT image_id, w, h, fmt FROM fl2 WHERE keep = 1),
         |bks(i, bw, bh) AS (VALUES (0,1,1),(1,4,3),(2,3,4),(3,16,9),
         |  (4,9,16),(5,3,2),(6,2,3),(7,2,1),(8,1,2)),
         |sc2 AS (SELECT g.image_id, b.i,
         |         ROW_NUMBER() OVER (PARTITION BY g.image_id ORDER BY
         |           CAST(ABS(g.w*b.bh - g.h*b.bw) AS DOUBLE) / b.bh,
         |           b.i) AS rk
         |       FROM kept g CROSS JOIN bks b),
         |asg AS (SELECT image_id, i,
         |          ${Md5BucketSql("image_id")} % 2 AS wtr
         |        FROM sc2 WHERE rk = 1),
         |arb AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY wtr, i
         |         ORDER BY image_id) - 1 AS rn FROM asg),
         |ar AS (SELECT image_id, CAST(i AS BIGINT) AS bucket,
         |         CAST(rn // 8 AS BIGINT) AS batch_idx FROM arb),
         |sized AS (SELECT image_id,
         |    CAST(CASE fmt WHEN 'raw-i16le' THEN 12*w*h
         |                  ELSE 24*w*h END AS BIGINT) AS nbytes,
         |    ${Md5BucketSql("image_id")} % 2 AS writer
         |  FROM kept),
         |it2 AS (SELECT image_id, nbytes, writer,
         |    ROW_NUMBER() OVER (PARTITION BY writer ORDER BY image_id)
         |      AS rn FROM sized),
         |rec2 AS (
         |  SELECT image_id, nbytes, writer, rn,
         |    CAST(0 AS BIGINT) AS shard, CAST(0 AS BIGINT) AS off,
         |    nbytes AS used
         |  FROM it2 WHERE rn = 1
         |  UNION ALL
         |  SELECT i.image_id, i.nbytes, i.writer, i.rn,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.shard
         |         ELSE r.shard + 1 END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used
         |         ELSE CAST(0 AS BIGINT) END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used + i.nbytes
         |         ELSE i.nbytes END
         |  FROM rec2 r JOIN it2 i ON i.writer = r.writer AND i.rn = r.rn + 1)
         |SELECT f.image_id,
         |  CAST(f.pass_meta AS BIGINT) AS pass_meta,
         |  CAST(f.is_canonical AS BIGINT) AS is_canonical,
         |  CAST(f.keep AS BIGINT) AS keep,
         |  ar.bucket, ar.batch_idx,
         |  CAST(rec2.writer AS BIGINT) AS writer, rec2.shard,
         |  rec2.off AS offset
         |FROM fl2 f
         |LEFT JOIN ar USING (image_id)
         |LEFT JOIN rec2 USING (image_id)
         |ORDER BY f.image_id""".stripMargin,

    // AR bucketing replay: argmin over the 9-ratio lattice of the IEEE
    // double |w*bh - h*bw| / bh (exact integer numerator, one
    // correctly-rounded divide — bit-identical across engines), ties
    // -> lowest bucket index; md5 writer; row_number batching
    "q_ar_buckets" ->
      s"""WITH $I,
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
         |FROM bt ORDER BY image_id""".stripMargin,

    // the remapped output index is computed from the ORIGINAL (x,y):
    // hflip idx = y·w + (w−1−x), rot90 idx = x·h + (h−1−y); DN·10⁶
    // is integer-exact so the weighted sum replays exactly
    "q_augment" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
         |a AS (
         |  SELECT s.image_id, 'hflip' AS op, COUNT(*) AS n_valid,
         |    SUM(CAST(px.v AS BIGINT) * 1000000 *
         |        (px.y * s.w + (s.w - 1 - px.x))) AS cs
         |  FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT s.image_id, 'rot90', COUNT(*),
         |    SUM(CAST(px.v AS BIGINT) * 1000000 *
         |        (px.x * s.h + (s.h - 1 - px.y)))
         |  FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0 GROUP BY 1, 2)
         |SELECT image_id, op, CAST(n_valid AS BIGINT) AS n_valid,
         |  CAST(cs AS BIGINT) AS checksum
         |FROM a ORDER BY image_id, op""".stripMargin,

    // chain sqrt → +5 → ×2: DuckDB sqrt/+/× are the same correctly-
    // rounded IEEE doubles in the same order
    "q_chain_ops" ->
      s"""WITH $I, $B, $SimgCte, $PxCte
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(FLOOR((SQRT(CAST(px.v AS DOUBLE)) + 5.0) * 2.0
         |    * 1e6) AS BIGINT)) AS BIGINT) AS fsum
         |FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_images" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte
         |SELECT phash, CAST(COUNT(*) AS BIGINT) AS cnt,
         |       MIN(image_id) AS min_image_id
         |FROM phi GROUP BY phash ORDER BY phash""".stripMargin,

    "q_whiteness" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |wv AS (SELECT k,
         |  (abs(r - (r+g+b)/3) + abs(g - (r+g+b)/3) + abs(b - (r+g+b)/3)) /
         |    ((r+g+b)/3) AS wv
         |  FROM pxd)
         |SELECT i.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(FLOOR(wv*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |FROM wv JOIN img2 i ON i.k = wv.k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_linear_transform" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |u AS (
         |  SELECT k, CAST(0 AS BIGINT) AS ob, COUNT(*) AS n_valid,
         |    CAST(SUM(CAST(FLOOR((0.1*b + 0.2*g + 0.3*r + 0.4*n + 0.5*s1
         |      + 0.6*s2)*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |  FROM pxd GROUP BY k
         |  UNION ALL
         |  SELECT k, CAST(1 AS BIGINT) AS ob, COUNT(*) AS n_valid,
         |    CAST(SUM(CAST(FLOOR((0.6*b + -0.5*g + 0.4*r + -0.3*n + 0.2*s1
         |      + -0.1*s2)*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |  FROM pxd GROUP BY k)
         |SELECT i.image_id, u.ob, CAST(u.n_valid AS BIGINT) AS n_valid, u.fsum
         |FROM u JOIN img2 i ON i.k = u.k ORDER BY image_id, ob""".stripMargin,

    "q_extract_classes" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |cl AS (SELECT k, GREATEST(0, LEAST(3,
         |         CAST(FLOOR(((n-r)/(n+r))*4) AS BIGINT))) AS cls,
         |         CAST(r AS BIGINT) AS rv
         |       FROM pxd)
         |SELECT i.image_id, cl.cls, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(rv) AS BIGINT) AS red_sum
         |FROM cl JOIN img2 i ON i.k = cl.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_random_pixels" ->
      s"""WITH $I, $B, $SimgCte,
         |draws AS (SELECT s.k, s.image_id, s.w, s.h, s.nw, p.base, p.ax, p.ay,
         |            (s.k*1103515245 + g.i*2654435761) % (s.w*s.h) AS idx
         |          FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0
         |          CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 15))
         |            AS i) g),
         |vals AS (SELECT k, image_id, idx % w AS x, idx // w AS y, nw,
         |           base, ax, ay FROM draws)
         |SELECT image_id,
         |  CAST(COUNT(*) FILTER (WHERE x >= nw) AS BIGINT) AS n_valid,
         |  COALESCE(CAST(SUM(base + ax*x + ay*y) FILTER (WHERE x >= nw)
         |    AS BIGINT), 0) AS vsum
         |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_doc_wsample" ->
      s"""WITH $TokCte,
         |w AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS w FROM tok),
         |hh AS (SELECT doc_id, w,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':0'")} AS h
         |  FROM w)
         |SELECT doc_id, w, h,
         |  CAST(h AS DOUBLE)/CAST(w AS DOUBLE) AS priority
         |FROM hh ORDER BY priority, doc_id LIMIT 40""".stripMargin,

    // same cleared-denominator rationals; ranking divides the two
    // exact BIGINTs once (IEEE-identical across engines)
    "q_bm25" ->
      s"""WITH $TokCte,
         |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM tok),
         |tv AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |st AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tv GROUP BY 1, 2),
         |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM st GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |q AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 3),
         |sc AS (SELECT q.term, st.doc_id, st.tf, q.df, dl.dl,
         |    (2*t.n_docs - 2*q.df + 1) * 22 * st.tf * t.total_len
         |      AS score_num,
         |    (2*q.df + 1) * (10*t.total_len*st.tf + 3*t.total_len +
         |      9*dl.dl*t.n_docs) AS score_den
         |  FROM st JOIN q USING (term) JOIN dl USING (doc_id)
         |  CROSS JOIN tot t),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
         |    ORDER BY CAST(score_num AS DOUBLE)/CAST(score_den AS DOUBLE)
         |      DESC, doc_id) AS rank FROM sc)
         |SELECT term, CAST(rank AS BIGINT) AS rank, doc_id, tf, df, dl,
         |  CAST(score_num AS BIGINT) AS score_num,
         |  CAST(score_den AS BIGINT) AS score_den
         |FROM rk WHERE rank <= 10 ORDER BY term, rank""".stripMargin,

    // full HLL register pipeline replayed: md5 bucket (first 2 hex
    // chars), rho = 1 + leading-zero bits of the next 48, per-register
    // MAX, then the three exact-integer invariants + true distinct
    "q_hll_distinct" ->
      s"""WITH $TokCte,
         |tv AS (SELECT unnest(ts) AS term FROM tok),
         |hh AS (SELECT md5(term) AS hx FROM tv),
         |r0 AS (SELECT
         |    (instr('0123456789abcdef', substring(hx, 1, 1))-1)*16 +
         |    (instr('0123456789abcdef', substring(hx, 2, 1))-1)
         |      AS register,
         |    substring(hx, 3, 12) AS tail FROM hh),
         |r1 AS (SELECT register,
         |    length(regexp_extract(tail, '^0*')) AS z, tail FROM r0),
         |r2 AS (SELECT register, z,
         |    instr('0123456789abcdef', substring(tail, z + 1, 1)) - 1
         |      AS v FROM r1),
         |r3 AS (SELECT register, CASE WHEN z = 12 THEN 49
         |    ELSE z*4 + (CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
         |                     WHEN v >= 2 THEN 2 ELSE 3 END) + 1 END
         |      AS rho FROM r2),
         |sk AS (SELECT register, MAX(rho) AS rho FROM r3 GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_nonempty,
         |  CAST(SUM(CAST(1 AS BIGINT) << CAST(50 - rho AS INT)) +
         |    (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 50) AS BIGINT)
         |    AS harmonic_num,
         |  CAST(SUM((register + 1) * rho) AS BIGINT) AS reg_checksum,
         |  (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) FROM tv)
         |    AS exact_distinct
         |FROM sk""".stripMargin,

    "q_doc_tokens" ->
      s"""WITH $TokCte
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(ts, t -> t = 'the')) AS BIGINT) AS n_the,
         |  CAST(len(list_filter(ts, t -> t = 'a')) AS BIGINT) AS n_a
         |FROM tok ORDER BY doc_id""".stripMargin,

    "q_doc_quality" ->
      s"""WITH $TokCte,
         |t2 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(ts, t -> t = 'the')) AS BIGINT) AS n_the,
         |  CAST(len(list_filter(ts, t -> t = 'a')) AS BIGINT) AS n_a
         |FROM tok)
         |SELECT *,
         |  CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_ratio,
         |  CAST(n_the + n_a AS DOUBLE) / n_tokens AS stop_ratio
         |FROM t2 ORDER BY doc_id""".stripMargin,

    "q_doc_subwords" ->
      s"""WITH $TokCte
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ts, t -> (length(t)+3)//4))
         |    AS BIGINT) AS n_subtokens
         |FROM tok ORDER BY doc_id""".stripMargin,

    // repetition stats replayed with list comprehensions: n-grams are
    // joined token slices; the top-gram count is the max over distinct
    // grams of each gram's occurrence count (all exact integers)
    "q_doc_repetition" ->
      s"""WITH $TokCte,
         |g AS (SELECT doc_id, ts,
         |  list_transform(range(1, len(ts)),
         |    i -> array_to_string(list_slice(ts, i, i+1), ' ')) AS g2,
         |  list_transform(range(1, len(ts)-1),
         |    i -> array_to_string(list_slice(ts, i, i+2), ' ')) AS g3
         |  FROM tok)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(ts) - len(list_distinct(ts)) AS BIGINT) AS n_dup_words,
         |  CAST(len(g2) AS BIGINT) AS n_2grams,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g2),
         |    x -> len(list_filter(g2, y -> y = x)))), 0) AS BIGINT)
         |    AS max_2gram,
         |  CAST(len(g3) AS BIGINT) AS n_3grams,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g3),
         |    x -> len(list_filter(g3, y -> y = x)))), 0) AS BIGINT)
         |    AS max_3gram
         |FROM g ORDER BY doc_id""".stripMargin,

    "q_doc_langid" ->
      s"""WITH $TokCte,
         |sc AS (SELECT doc_id, lang,
         |  len(list_filter(ts, t -> t = 'the')) +
         |    len(list_filter(ts, t -> t = 'a')) AS en,
         |  len(list_filter(ts, t -> t = 'le')) +
         |    len(list_filter(ts, t -> t = 'la')) AS fr,
         |  len(list_filter(ts, t -> t = 'der')) +
         |    len(list_filter(ts, t -> t = 'und')) AS de
         |FROM tok)
         |SELECT doc_id, lang,
         |  CASE WHEN en >= fr AND en >= de AND en > 0 THEN 'en'
         |       WHEN fr >= de AND fr > 0 THEN 'fr'
         |       WHEN de > 0 THEN 'de' ELSE 'unk' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      s"""WITH $TokCte
         |SELECT doc_id,
         |  md5(concat_ws('|', ts[1], ts[2], ts[3], ts[-1],
         |      CAST(n_chars AS VARCHAR))) AS fp
         |FROM tok ORDER BY doc_id""".stripMargin,

    // scrub: LIKE-only token redaction over the same PII augmentation
    "q_doc_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN text || ' mail bob@example.com or www.example.org now'
        |       ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM aug),
        |red AS (SELECT doc_id,
        |  list_transform(ts, t -> CASE
        |    WHEN t LIKE '%@%.%' THEN '<EMAIL>'
        |    WHEN t LIKE 'http://%' OR t LIKE 'https://%' OR t LIKE 'www.%'
        |      THEN '<URL>'
        |    ELSE t END) AS rts,
        |  CAST(len(list_filter(ts, t -> t LIKE '%@%.%'
        |    OR t LIKE 'http://%' OR t LIKE 'https://%'
        |    OR t LIKE 'www.%')) AS BIGINT) AS n_redacted
        |  FROM tok)
        |SELECT doc_id, md5(array_to_string(rts, ' ')) AS scrub_h, n_redacted
        |FROM red ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,

    "q_dedup_norm" ->
      """SELECT md5(lower(trim(text))) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,

    "q_dup_spans" ->
      s"""WITH $TokCte,
         |dsg0 AS (SELECT doc_id,
         |  CASE WHEN len(ts) >= 4 THEN list_transform(
         |    generate_series(1, CAST(len(ts)-3 AS INT)),
         |    i -> {'pos': i-1, 'gh': md5(array_to_string(ts[i:i+3], ' '))})
         |  ELSE [] END AS gl FROM tok),
         |dsg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
         |  FROM (SELECT doc_id, unnest(gl) AS u FROM dsg0)),
         |dsd AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS c
         |   FROM dsg)
         |  WHERE c >= 2),
         |dsi AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 4
         |       THEN 1 ELSE 0 END AS st
         |  FROM dsd WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |dsi2 AS (SELECT doc_id, pos,
         |  SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS UNBOUNDED PRECEDING) AS island FROM dsi)
         |SELECT doc_id, CAST(island AS BIGINT) AS span_id,
         |  CAST(MIN(pos) AS BIGINT) AS start_tok,
         |  CAST(MAX(pos)+3 AS BIGINT) AS end_tok,
         |  CAST(MAX(pos)+3 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_windows
         |FROM dsi2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_id""".stripMargin,

    "q_winnow" ->
      s"""WITH $TokCte,
         |wng0 AS (SELECT doc_id,
         |  CASE WHEN len(ts) >= 3 THEN list_transform(
         |    generate_series(1, CAST(len(ts)-2 AS INT)),
         |    i -> {'pos': i-1, 'gh': md5(array_to_string(ts[i:i+2], ' '))})
         |  ELSE [] END AS gl FROM tok),
         |wng AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
         |  FROM (SELECT doc_id, unnest(gl) AS u FROM wng0)),
         |wnw AS (SELECT doc_id, pos, gh,
         |  COUNT(*) OVER fr AS nwin,
         |  MIN({'h': gh, 'np': -pos}) OVER fr AS m
         |  FROM wng WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
         |SELECT DISTINCT doc_id, CAST(-(m.np) AS BIGINT) AS pos,
         |  m.h AS gh
         |FROM wnw WHERE nwin = 4
         |ORDER BY doc_id, pos""".stripMargin,

    "q_dup_scrub" ->
      s"""WITH $TokCte,
         |scg0 AS (SELECT doc_id,
         |  CASE WHEN len(ts) >= 4 THEN list_transform(
         |    generate_series(1, CAST(len(ts)-3 AS INT)),
         |    i -> {'pos': i-1, 'gh': md5(array_to_string(ts[i:i+3], ' '))})
         |  ELSE [] END AS gl FROM tok),
         |scg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
         |  FROM (SELECT doc_id, unnest(gl) AS u FROM scg0)),
         |scd AS (SELECT doc_id, pos, gh FROM
         |  (SELECT doc_id, pos, gh, COUNT(*) OVER (PARTITION BY gh) AS c
         |   FROM scg)
         |  WHERE c >= 2),
         |sci AS (SELECT doc_id, pos, gh,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 4
         |       THEN 1 ELSE 0 END AS st
         |  FROM scd WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sci2 AS (SELECT doc_id, pos, gh,
         |  SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS UNBOUNDED PRECEDING) AS island FROM sci),
         |scfo AS (SELECT gh, MIN({'d': doc_id, 'p': pos}) AS fo
         |  FROM scd GROUP BY gh),
         |scsp AS (SELECT doc_id, arg_min(gh, pos) AS gh,
         |    MIN(pos) AS s, MAX(pos)+3 AS e
         |  FROM sci2 GROUP BY doc_id, island),
         |scrm AS (SELECT sp.doc_id AS doc_id, sp.s AS s, sp.e AS e
         |  FROM scsp sp JOIN scfo f USING (gh)
         |  WHERE NOT (sp.doc_id = f.fo.d AND sp.s = f.fo.p)),
         |scrs AS (SELECT doc_id, list({'s': s, 'e': e}) AS rs,
         |    COUNT(*) AS nsp, SUM(e-s+1) AS ntk
         |  FROM scrm GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(array_to_string(list_filter(t.ts, (x, i) ->
         |    len(list_filter(COALESCE(r.rs, []),
         |      v -> i-1 >= v.s AND i-1 <= v.e)) = 0), ' '), '')
         |    AS kept_text,
         |  CAST(COALESCE(r.nsp, 0) AS BIGINT) AS n_spans_removed,
         |  CAST(COALESCE(r.ntk, 0) AS BIGINT) AS n_tokens_removed
         |FROM documents d JOIN tok t USING (doc_id)
         |LEFT JOIN scrs r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_minhash_sig" ->
      s"""WITH $TokCte, $ShCte
         |SELECT doc_id,
         |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0,
         |  list_min(list_transform(sh, s -> md5('1' || s))) AS h1,
         |  list_min(list_transform(sh, s -> md5('2' || s))) AS h2,
         |  list_min(list_transform(sh, s -> md5('3' || s))) AS h3
         |FROM sh ORDER BY doc_id""".stripMargin,

    "q_minhash_bands" ->
      s"""WITH $TokCte, $ShCte,
         |sig AS (SELECT doc_id,
         |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0 FROM sh)
         |SELECT substr(h0, 1, 2) AS band, CAST(COUNT(*) AS BIGINT) AS cnt,
         |       MIN(doc_id) AS min_doc_id
         |FROM sig GROUP BY 1 ORDER BY band""".stripMargin,

    "q_jaccard_pairs" ->
      s"""WITH $TokCte,
         |t AS (SELECT doc_id, list_distinct(
         |        CASE WHEN len(ts) >= 3 THEN
         |          list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |        ELSE [text] END) AS sh
         |      FROM tok WHERE doc_id < 100),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT)
         |          AS n_union
         |      FROM t a, t b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, n_inter, n_union FROM p
         |WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
         |ORDER BY id_a, id_b""".stripMargin,

    // containment replay: same shingle sets, exact floored scaled
    // ratios in both directions, greatest-direction threshold
    "q_containment" ->
      s"""WITH $TokCte,
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
         |ORDER BY id_a, id_b""".stripMargin,

    "q_jaccard_lsh" ->
      s"""WITH $TokCte, $ShCte,
         |sig AS (SELECT doc_id,
         |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0,
         |  list_min(list_transform(sh, s -> md5('1' || s))) AS h1,
         |  list_min(list_transform(sh, s -> md5('2' || s))) AS h2,
         |  list_min(list_transform(sh, s -> md5('3' || s))) AS h3
         |FROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS bj, h0 AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, h1 FROM sig
         |  UNION ALL SELECT doc_id, 2, h2 FROM sig
         |  UNION ALL SELECT doc_id, 3, h3 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.bj = b.bj AND a.bk = b.bk
         |  WHERE a.doc_id < b.doc_id),
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
         |p AS (SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS n_inter,
         |  CAST(len(list_distinct(list_concat(x.shd, y.shd))) AS BIGINT)
         |    AS n_union
         |  FROM cand c JOIN sets x ON x.doc_id = c.id_a
         |  JOIN sets y ON y.doc_id = c.id_b)
         |SELECT id_a, id_b, n_inter, n_union FROM p
         |WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
         |ORDER BY id_a, id_b""".stripMargin,

    "q_vocab" ->
      s"""WITH $TokCte,
         |t AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |a AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         |        CAST(COUNT(*) AS BIGINT) AS cf
         |      FROM t GROUP BY term)
         |SELECT term, df, cf FROM a
         |ORDER BY cf DESC, term LIMIT 50""".stripMargin,

    // sqrt-temperature quotas: SQRT and the ×8 are single correctly-
    // rounded IEEE ops — engine-identical; md5 rank is the shared
    // cross-engine hash
    "q_mix_balance" ->
      s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM documents GROUP BY 1),
         |q AS (SELECT lang, LEAST(cnt, CAST(FLOOR(SQRT(CAST(cnt AS
         |        DOUBLE)) * 8) AS BIGINT)) AS quota FROM c),
         |h AS (SELECT doc_id, lang,
         |        ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':mix'")} AS h
         |      FROM documents),
         |r AS (SELECT h.doc_id, h.lang, q.quota,
         |        ROW_NUMBER() OVER (PARTITION BY h.lang
         |          ORDER BY h.h, h.doc_id) AS rn
         |      FROM h JOIN q USING (lang))
         |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rank, quota
         |FROM r WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    // copy counts: integer div/mod on exact counts + md5 rank
    "q_mix_resample" ->
      s"""WITH t(lang, target) AS (VALUES ('en', 100), ('zh', 150),
         |  ('de', 100), ('es', 73), ('fr', 40)),
         |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM documents GROUP BY 1),
         |q AS (SELECT c.lang, CAST(t.target // c.cnt AS BIGINT) AS f,
         |        CAST(t.target % c.cnt AS BIGINT) AS rem
         |      FROM c JOIN t USING (lang)),
         |h AS (SELECT doc_id, lang,
         |        ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':rs'")} AS h
         |      FROM documents),
         |r AS (SELECT h.doc_id, h.lang, q.f, q.rem,
         |        ROW_NUMBER() OVER (PARTITION BY h.lang
         |          ORDER BY h.h, h.doc_id) AS rn
         |      FROM h JOIN q USING (lang))
         |SELECT doc_id, lang,
         |  CAST(f + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_copies
         |FROM r ORDER BY doc_id""".stripMargin,

    // BPE trainer replay: 4 unrolled rounds; the delimited-symbol
    // representation makes greedy merge == plain replace (identical
    // left-to-right non-overlap semantics in Spark and DuckDB)
    "q_bpe_merges" ->
      s"""WITH ${BpeCtes(4)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, l AS "left", r AS "right",
         |         CAST(c AS BIGINT) AS cnt FROM m1
         |  UNION ALL SELECT 2, l, r, CAST(c AS BIGINT) FROM m2
         |  UNION ALL SELECT 3, l, r, CAST(c AS BIGINT) FROM m3
         |  UNION ALL SELECT 4, l, r, CAST(c AS BIGINT) FROM m4)
         |ORDER BY round""".stripMargin,

    "q_bpe_encode" ->
      s"""WITH ${BpeCtes(4)},
         |wt AS (SELECT word, CAST(len(string_split(trim(wstr, '$Pipe'),
         |         '$Pipe$Pipe')) AS BIGINT) AS wt FROM w4),
         |dw AS (SELECT d.doc_id, t.word FROM documents d
         |       CROSS JOIN LATERAL (SELECT unnest(string_split(d.text,
         |         ' ')) AS word) t
         |       WHERE length(t.word) > 0)
         |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(wt.wt) AS BIGINT) AS n_tokens
         |FROM dw JOIN wt USING (word) GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-doc top-3 keywords: tf desc, df asc, term asc — integer +
    // lexicographic ordering only
    "q_doc_keywords" ->
      s"""WITH $TokCte,
         |t AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM t GROUP BY 1, 2),
         |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM t GROUP BY 1),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |        ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |          ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
         |      FROM tf JOIN df USING (term))
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_ngrams" ->
      s"""WITH $TokCte,
         |g AS (SELECT unnest(CASE WHEN len(ts) >= 2 THEN
         |        list_transform(generate_series(1, CAST(len(ts)-1 AS INT)),
         |          i -> ts[i] || ' ' || ts[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END) AS gram FROM tok)
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM g GROUP BY gram ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,

    // PMI replay: unigram + bigram count tables over the same token
    // CTE, rare-pair filter, exact scaled-integer ratio — `//` is
    // DuckDB floor division, matching Spark's `div` on positives
    "q_pmi" ->
      s"""WITH $TokCte,
         |pu AS (SELECT unnest(ts) AS t FROM tok),
         |pun AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cu
         |        FROM pu GROUP BY 1),
         |ptt AS (SELECT CAST(SUM(cu) AS BIGINT) AS ntok FROM pun),
         |pg AS (SELECT unnest(CASE WHEN len(ts) >= 2 THEN
         |        list_transform(generate_series(1, CAST(len(ts)-1 AS INT)),
         |          i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))
         |      ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END)
         |        AS p FROM tok),
         |pb AS (SELECT p.w1 AS w1, p.w2 AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS c12
         |       FROM pg GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         |SELECT pb.w1 ${Pipe}${Pipe} ' ' ${Pipe}${Pipe} pb.w2 AS gram,
         |  pb.c12, a.cu AS ca, b.cu AS cb,
         |  CAST((10000 * pb.c12 * t.ntok) // (a.cu * b.cu) AS BIGINT)
         |    AS pmi_scaled
         |FROM pb JOIN pun a ON a.t = pb.w1
         |JOIN pun b ON b.t = pb.w2, ptt t
         |ORDER BY pmi_scaled DESC, gram LIMIT 40""".stripMargin,

    // tf-idf pair-similarity replay: pruned postings, integer idf,
    // HUGEINT for the dot²·10⁶ step, identical total-order top-30
    "q_tfidf_sim" ->
      s"""WITH $TokCte,
         |tsp AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |tsf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |        FROM tsp GROUP BY 1, 2),
         |tsd0 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM tsf GROUP BY 1),
         |tsn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
         |tsd AS (SELECT d.term, d.df FROM tsd0 d, tsn n
         |        WHERE d.df * 1000 <= 200 * n.nd),
         |tsw AS (SELECT p.doc_id, p.term, p.tf * ((n.nd * 10) // d.df) AS w
         |        FROM tsf p JOIN tsd d ON d.term = p.term, tsn n),
         |tsm AS (SELECT doc_id, CAST(SUM(w*w) AS BIGINT) AS nrm
         |        FROM tsw GROUP BY 1),
         |tst AS (SELECT a.doc_id AS a, b.doc_id AS b,
         |          CAST(SUM(a.w * b.w) AS BIGINT) AS dot
         |        FROM tsw a JOIN tsw b ON b.term = a.term
         |          AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2)
         |SELECT d.a, d.b, d.dot,
         |  CAST((CAST(d.dot AS HUGEINT) * d.dot * 1000000)
         |    // (CAST(na.nrm AS HUGEINT) * nb.nrm) AS BIGINT)
         |    AS sim2_scaled
         |FROM tst d JOIN tsm na ON na.doc_id = d.a
         |JOIN tsm nb ON nb.doc_id = d.b
         |ORDER BY sim2_scaled DESC, dot DESC, a, b LIMIT 30""".stripMargin,

    // stump replay: threshold histogram, cumulative split counts,
    // exact weighted-Gini cost via integer cross-multiplication
    "q_stump" ->
      s"""WITH sth AS (SELECT n_chars // 64 AS t,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |      FROM documents),
         |sthh AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
         |           CAST(SUM(y) AS BIGINT) AS p FROM sth GROUP BY 1),
         |stc AS (SELECT t, CAST(SUM(n) OVER (ORDER BY t) AS BIGINT) AS nl,
         |          CAST(SUM(p) OVER (ORDER BY t) AS BIGINT) AS pl
         |        FROM sthh),
         |stt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
         |          CAST(SUM(p) AS BIGINT) AS pt FROM sthh)
         |SELECT c.t, c.nl, c.pl, q.nt - c.nl AS nr, q.pt - c.pl AS pr,
         |  CAST(((c.pl*(c.nl-c.pl)*(q.nt-c.nl)
         |    + (q.pt-c.pl)*((q.nt-c.nl)-(q.pt-c.pl))*c.nl) * 1000000)
         |    // (c.nl * (q.nt - c.nl)) AS BIGINT) AS cost_scaled
         |FROM stc c, stt q WHERE c.nl < q.nt ORDER BY c.t""".stripMargin,

    // vocab rank replay + positional unnest + left join, OOV id 0
    "q_encode_ids" ->
      s"""WITH $TokCte,
         |tv AS (SELECT unnest(ts) AS term, doc_id FROM tok),
         |voc AS (SELECT term,
         |    ROW_NUMBER() OVER (ORDER BY cf DESC, term) AS id
         |  FROM (SELECT term, COUNT(DISTINCT doc_id) AS df,
         |          COUNT(*) AS cf
         |        FROM tv GROUP BY 1 ORDER BY cf DESC, term LIMIT 40)),
         |tp AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, CAST(len(ts) AS INT)),
         |      i -> struct_pack(pos := i, t := ts[i]))) AS u
         |  FROM tok),
         |tp2 AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
         |         u.t AS term FROM tp)
         |SELECT tp2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(SUM(COALESCE(v.id, 0) * tp2.pos) AS BIGINT)
         |    AS ids_checksum
         |FROM tp2 LEFT JOIN voc v ON v.term = tp2.term
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_doc_split" ->
      """WITH b AS (SELECT doc_id,
        |  CAST((strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        |    AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket * 1000 < 100 * 65536 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // same md5-bucket draw, salted and stratified by lang; zh has no
    // CASE arm so its rate is 0 (dropped), mirroring the Scala foldRight
    "q_doc_sample" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':r4'")} AS bucket
         |  FROM documents)
         |SELECT doc_id, lang FROM b
         |WHERE bucket * 1000 <
         |  (CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 100
         |             WHEN 'es' THEN 250 WHEN 'fr' THEN 1000
         |             ELSE 0 END) * 65536
         |ORDER BY doc_id""".stripMargin,

    // sharded running-offset replay of the concat-and-chunk packing:
    // cumulative token sum PARTITION BY shard ORDER BY doc_id, then
    // integer division by the 256-token budget
    "q_pack_sequences" ->
      s"""WITH $TokCte,
         |b AS (SELECT doc_id,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |  CAST(len(ts) AS BIGINT) AS n_tokens FROM tok),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS tok_start FROM b)
         |SELECT doc_id, shard, n_tokens, tok_start,
         |  CAST(FLOOR(tok_start / 256.0) AS BIGINT) AS first_seq,
         |  CAST(FLOOR((tok_start + n_tokens - 1) / 256.0) AS BIGINT)
         |    AS last_seq
         |FROM c ORDER BY doc_id""".stripMargin,

    // the same corrupted union replayed; each rule is one aggregate
    "q_validate" ->
      s"""WITH u AS (
         |  SELECT doc_id, lang, n_chars, text FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars, text
         |  FROM documents WHERE doc_id % 50 = 0),
         |v AS (
         |  SELECT 'bad_n_chars' AS rule, CAST(SUM(CASE WHEN
         |      n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS violations FROM u
         |  UNION ALL
         |  SELECT 'bad_lang', CAST(SUM(CASE WHEN lang NOT IN
         |      ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM u
         |  UNION ALL
         |  SELECT 'empty_text', CAST(SUM(CASE WHEN text IS NULL OR
         |      length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM u
         |  UNION ALL
         |  SELECT 'dup_doc_ids', CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
         |  FROM (SELECT doc_id, COUNT(*) AS c FROM u GROUP BY 1))
         |SELECT rule, violations FROM v ORDER BY rule""".stripMargin,

    // full-corpus sig/band CTEs, but candidates pair ONLY delta
    // (doc_id%10=7) against the rest; exact-Jaccard verify as usual
    "q_dedup_incremental" ->
      s"""WITH $TokCte, $ShCte,
         |sig AS (SELECT doc_id,
         |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0,
         |  list_min(list_transform(sh, s -> md5('1' || s))) AS h1,
         |  list_min(list_transform(sh, s -> md5('2' || s))) AS h2,
         |  list_min(list_transform(sh, s -> md5('3' || s))) AS h3
         |FROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS bj, h0 AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, h1 FROM sig
         |  UNION ALL SELECT doc_id, 2, h2 FROM sig
         |  UNION ALL SELECT doc_id, 3, h3 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
         |  FROM bands a JOIN bands b ON a.bj = b.bj AND a.bk = b.bk
         |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
         |p AS (SELECT c.id_new, c.id_old,
         |  CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS n_inter,
         |  CAST(len(list_distinct(list_concat(x.shd, y.shd))) AS BIGINT)
         |    AS n_union
         |  FROM cand c JOIN sets x ON x.doc_id = c.id_new
         |  JOIN sets y ON y.doc_id = c.id_old)
         |SELECT id_new, id_old, n_inter, n_union FROM p
         |WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
         |ORDER BY id_new, id_old""".stripMargin,

    // distinct-3-gram self-join against the doc_id%17 benchmark
    // subset; shared = distinct grams in common, threshold 2
    "q_decontaminate" ->
      s"""WITH $TokCte,
         |grams AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 3 THEN
         |      list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END) AS gram
         |  FROM tok)),
         |hits AS (SELECT c.doc_id, b.doc_id AS bench_id,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM grams c JOIN grams b ON c.gram = b.gram
         |  WHERE b.doc_id % 17 = 0 AND c.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_id, bench_id, shared FROM hits
         |WHERE shared >= 2 ORDER BY doc_id, bench_id""".stripMargin,

    // LCS DP as a monotone max-plus scatter fixpoint: v(i,j) relaxes
    // from 0 via max(v(i-1,j), v(i,j-1), v(i-1,j-1)+eq); the state
    // DAG is acyclic so the fixpoint is the DP value, reached within
    // n+m <= 32 rounds (same no-overshoot argument as q_strahler)
    "q_rouge_lcs" -> {
      val refList = RougeRef.map(t => s"'$t'").mkString("[", ",", "]")
      s"""WITH RECURSIVE
         |rld AS (SELECT doc_id, string_split(text, ' ') AS ts
         |        FROM documents WHERE doc_id < 100),
         |rlt AS (SELECT doc_id, LEAST(len(ts), 24) AS n, ts FROM rld),
         |rls AS (SELECT t.doc_id, t.n, ii.i, jj.j,
         |    CASE WHEN ii.i >= 1 AND jj.j >= 1
         |         AND t.ts[CAST(ii.i AS INT)] =
         |             ($refList)[CAST(jj.j AS INT)]
         |         THEN 1 ELSE 0 END AS eq
         |  FROM rlt t
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(t.n AS INT))) AS i) ii
         |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) jj),
         |rlv AS (
         |  SELECT doc_id, n, i, j, 0 AS v, 0 AS it FROM rls
         |  UNION ALL
         |  SELECT s.doc_id, s.n, s.i, s.j,
         |    MAX(CASE WHEN p.i = s.i - 1 AND p.j = s.j - 1
         |             THEN p.v + s.eq ELSE p.v END) AS v,
         |    MIN(p.it) + 1 AS it
         |  FROM rlv p
         |  JOIN rls s ON s.doc_id = p.doc_id
         |    AND ((p.i = s.i AND p.j = s.j)
         |      OR (p.i = s.i - 1 AND p.j = s.j)
         |      OR (p.i = s.i AND p.j = s.j - 1)
         |      OR (p.i = s.i - 1 AND p.j = s.j - 1))
         |  WHERE p.it < 32
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
         |       CAST(v AS BIGINT) AS lcs
         |FROM rlv WHERE it = 32 AND i = n AND j = 8
         |ORDER BY doc_id""".stripMargin
    },

    // per-shard rank over the md5(doc_id:epoch) sort key — the
    // epoch-2 permutation replayed with window row_number
    "q_epoch_shuffle" ->
      s"""WITH b AS (SELECT doc_id,
         |  md5(CAST(doc_id AS VARCHAR) || ':2') AS sort_key,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':2'")} % 4 AS shard
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY sort_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM b ORDER BY doc_id""".stripMargin,

    // transitive-closure min-label per doc over the SAME verified
    // near-dup edge set — the SQL ground truth for the distributed
    // large-star/small-star components
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $TokCte, $ShCte, $LshClosureCte
         |SELECT v AS doc_id, MIN(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,

    // the composed curation decision: every stage's oracle fragment
    // (langid votes, integer quality bounds, LSH-cluster closure,
    // decontamination hits, md5 sample draw) joined on doc_id
    "q_curate" ->
      s"""WITH RECURSIVE $TokCte, $ShCte, $LshClosureCte,
         |clus AS (SELECT v AS doc_id, MIN(l) AS cid
         |  FROM reach GROUP BY v),
         |lsc AS (SELECT doc_id,
         |  len(list_filter(ts, t -> t = 'the')) +
         |    len(list_filter(ts, t -> t = 'a')) AS en,
         |  len(list_filter(ts, t -> t = 'le')) +
         |    len(list_filter(ts, t -> t = 'la')) AS fr,
         |  len(list_filter(ts, t -> t = 'der')) +
         |    len(list_filter(ts, t -> t = 'und')) AS de
         |FROM tok),
         |qf AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(ts, t -> t = 'the')) +
         |       len(list_filter(ts, t -> t = 'a')) AS BIGINT) AS n_stop
         |FROM tok),
         |cgrams AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 3 THEN
         |      list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END) AS gram
         |  FROM tok)),
         |dirty AS (SELECT c.doc_id FROM cgrams c
         |  JOIN cgrams b ON c.gram = b.gram
         |  WHERE b.doc_id % 17 = 0 AND c.doc_id <> b.doc_id
         |  GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 2),
         |dd AS (SELECT DISTINCT doc_id FROM dirty),
         |smp AS (SELECT doc_id,
         |  CASE WHEN ${Md5BucketSql(
               "CAST(d.doc_id AS VARCHAR) || ':cur'")} * 1000 <
         |    (CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 400
         |               WHEN 'es' THEN 500 WHEN 'fr' THEN 700
         |               WHEN 'zh' THEN 300 ELSE 0 END) * 65536
         |  THEN 1 ELSE 0 END AS sampled
         |  FROM documents d),
         |f AS (SELECT d.doc_id,
         |  CASE WHEN (l.en >= l.fr AND l.en >= l.de AND l.en > 0)
         |         OR (l.fr >= l.de AND l.fr > 0) OR l.de > 0
         |       THEN 1 ELSE 0 END AS pass_lang,
         |  CASE WHEN q.n_uniq * 9 >= q.n_tokens * 4
         |        AND q.n_stop * 10 <= q.n_tokens
         |       THEN 1 ELSE 0 END AS pass_quality,
         |  CASE WHEN c.cid = d.doc_id THEN 1 ELSE 0 END AS is_canonical,
         |  CASE WHEN dd.doc_id IS NULL THEN 1 ELSE 0 END AS is_clean,
         |  s.sampled
         |FROM documents d
         |JOIN lsc l ON l.doc_id = d.doc_id
         |JOIN qf q ON q.doc_id = d.doc_id
         |JOIN clus c ON c.doc_id = d.doc_id
         |LEFT JOIN dd ON dd.doc_id = d.doc_id
         |JOIN smp s ON s.doc_id = d.doc_id)
         |SELECT doc_id, CAST(pass_lang AS BIGINT) AS pass_lang,
         |  CAST(pass_quality AS BIGINT) AS pass_quality,
         |  CAST(is_canonical AS BIGINT) AS is_canonical,
         |  CAST(is_clean AS BIGINT) AS is_clean,
         |  CAST(sampled AS BIGINT) AS sampled,
         |  CAST(pass_lang * pass_quality * is_canonical * is_clean
         |    * sampled AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_simhash" ->
      s"""WITH $TokCte, $SimhashCte
         |SELECT doc_id, simhash FROM sh64 ORDER BY doc_id""".stripMargin,

    "q_simhash_banded" ->
      s"""WITH $TokCte, $SimhashCte,
         |sbnd AS (SELECT doc_id, simhash, j.bj,
         |           (simhash >> (j.bj*16)) & 65535 AS bk
         |         FROM sh64 CROSS JOIN
         |           (SELECT unnest([0,1,2,3]) AS bj) j),
         |scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |            a.simhash AS ha, b.simhash AS hb
         |          FROM sbnd a JOIN sbnd b ON a.bj = b.bj AND a.bk = b.bk
         |          WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS dist
         |FROM scand WHERE bit_count(xor(ha, hb)) <= 12
         |ORDER BY 1, 2""".stripMargin,

    "q_emb_neardup_lsh" -> {
      val buckets = (0 until 16).map(t =>
        s"SELECT vec_id, $t AS tj, ${OracleCte.lshBucketSql("ed", 64, 4, t)} AS bk FROM e")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
         |b AS ($buckets),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b x JOIN b y ON x.tj = y.tj AND x.bk = y.bk
         |  WHERE x.vec_id < y.vec_id)
         |SELECT c.id_a, c.id_b FROM cand c
         |JOIN e a ON a.vec_id = c.id_a
         |JOIN e bb ON bb.vec_id = c.id_b
         |WHERE list_dot_product(a.ed, bb.ed) /
         |      (sqrt(list_dot_product(a.ed, a.ed)) *
         |       sqrt(list_dot_product(bb.ed, bb.ed))) > 0.35
         |ORDER BY 1, 2""".stripMargin
    },

    // edit-distance near-dup ground truth: ALL-PAIRS levenshtein
    // over the same title+mutation set — verifies the PassJoin
    // prefilter dropped nothing
    "q_edit_neardup" ->
      s"""WITH ebase AS (SELECT doc_id AS id, substr(text, 1, 32) AS t
         |               FROM documents WHERE doc_id < 500),
         |emut AS (SELECT doc_id + 1000000 AS id,
         |    substr(t0, 1, CAST(doc_id % 32 AS INT)) || 'q' ||
         |    substr(t0, CAST(doc_id % 32 AS INT) + 2,
         |           31 - CAST(doc_id % 32 AS INT)) AS t
         |  FROM (SELECT doc_id, substr(text, 1, 32) AS t0
         |        FROM documents WHERE doc_id < 500)
         |  WHERE doc_id % 5 = 0),
         |eall AS (SELECT * FROM ebase UNION ALL SELECT * FROM emut)
         |SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
         |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
         |FROM eall a JOIN eall b
         |  ON a.id < b.id AND levenshtein(a.t, b.t) <= 2
         |ORDER BY 1, 2""".stripMargin,

    // transitive closure over the SAME verified cosine edge set — the
    // ground truth for the embedding-side components
    "q_emb_clusters" -> {
      val buckets = (0 until 16).map(t =>
        s"SELECT vec_id, $t AS tj, ${OracleCte.lshBucketSql("ed", 64, 4, t)} AS bk FROM e")
        .mkString("\nUNION ALL ")
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
         |b AS ($buckets),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b x JOIN b y ON x.tj = y.tj AND x.bk = y.bk
         |  WHERE x.vec_id < y.vec_id),
         |vpairs AS (SELECT c.id_a, c.id_b FROM cand c
         |  JOIN e a ON a.vec_id = c.id_a
         |  JOIN e bb ON bb.vec_id = c.id_b
         |  WHERE list_dot_product(a.ed, bb.ed) /
         |        (sqrt(list_dot_product(a.ed, a.ed)) *
         |         sqrt(list_dot_product(bb.ed, bb.ed))) > 0.35),
         |ed2 AS (SELECT id_a AS u, id_b AS v FROM vpairs
         |        UNION ALL SELECT id_b, id_a FROM vpairs),
         |reach AS (
         |  SELECT vec_id AS v, vec_id AS l FROM embeddings
         |  UNION
         |  SELECT ed2.v, r.l FROM reach r JOIN ed2 ON ed2.u = r.v)
         |SELECT v AS vec_id, MIN(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY vec_id""".stripMargin
    },

    "q_ann_lsh_topk" -> {
      val buckets = (0 until 16).map(t =>
        s"SELECT vec_id, $t AS tj, ${OracleCte.lshBucketSql("ed", 64, 4, t)} AS bk FROM e")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
         |b AS ($buckets),
         |qb AS (SELECT vec_id AS qid, tj, bk FROM b WHERE vec_id < 3),
         |pairs AS (SELECT DISTINCT q.qid, b.vec_id
         |  FROM b JOIN qb q ON b.tj = q.tj AND b.bk = q.bk
         |  WHERE b.vec_id != q.qid),
         |c AS (SELECT p.qid, p.vec_id,
         |  list_dot_product(qe.ed, e.ed) /
         |  (sqrt(list_dot_product(qe.ed, qe.ed)) *
         |   sqrt(list_dot_product(e.ed, e.ed))) AS sim
         |  FROM pairs p JOIN e ON e.vec_id = p.vec_id
         |  JOIN e qe ON qe.vec_id = p.qid),
         |r AS (SELECT qid, vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |    AS rank FROM c)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM r
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    },

    "q_ann_ivf_topk" -> IvfOracleSql,

    // the persisted-index probe must return EXACTLY what the direct
    // IVF path returns — same oracle
    "q_ann_index" -> IvfOracleSql,

    // PQ replay: quantize to the kmeans-exact integer grid, codebook =
    // sub-vectors of the 16 lowest vec_ids (positional index c in
    // vec_id order = the Spark kernel's centroid index), encode =
    // per-(vector, subspace) argmin of exact integer squared distance
    // (ties -> lowest c), ADC = sum of the query's per-subspace
    // distances to each candidate's coded centroids. SUM(BIGINT) is
    // HUGEINT in DuckDB -> cast the output columns back to BIGINT.
    "q_ann_pq_topk" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qe AS ce
        |       FROM q ORDER BY vec_id LIMIT 16),
        |dist AS (SELECT q.vec_id, CAST((d.i-1)//8 AS INT) AS sub, cb.c,
        |           SUM((q.qe[d.i]-cb.ce[d.i])*(q.qe[d.i]-cb.ce[d.i])) AS dd
        |         FROM q, cb, dims d GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, c FROM (SELECT vec_id, sub, c,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |              ORDER BY dd, c) AS rn FROM dist) WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, sub, c, dd FROM dist WHERE vec_id < 3),
        |ad AS (SELECT qd.qid, co.vec_id, SUM(qd.dd) AS adist
        |       FROM codes co JOIN qd ON qd.sub = co.sub AND qd.c = co.c
        |       WHERE co.vec_id != qd.qid GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id, adist,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY adist, vec_id) AS rank FROM ad)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |       CAST(adist AS BIGINT) AS adist
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // IVF-PQ replay: the IVF oracle's cosine cell assignment + probe
    // CTEs composed with the PQ oracle's integer encode + ADC CTEs —
    // candidates are the probed cells' members, scored by ADC
    "q_ann_ivfpq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
        |cents AS (SELECT vec_id AS cid, ed AS ce FROM e WHERE vec_id < 16),
        |asg AS (SELECT e.vec_id, c.cid,
        |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |            list_dot_product(e.ed, c.ce) /
        |            (sqrt(list_dot_product(e.ed, e.ed)) *
        |             sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
        |        FROM e CROSS JOIN cents c),
        |cells AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
        |pr AS (SELECT q.vec_id AS qid, c.cid,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |           list_dot_product(q.ed, c.ce) /
        |           (sqrt(list_dot_product(q.ed, q.ed)) *
        |            sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
        |       FROM e q CROSS JOIN cents c WHERE q.vec_id < 3),
        |probes AS (SELECT qid, cid FROM pr WHERE rk <= 4),
        |qz AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qe AS ce
        |       FROM qz ORDER BY vec_id LIMIT 16),
        |dist AS (SELECT qz.vec_id, CAST((d.i-1)//8 AS INT) AS sub, cb.c,
        |           SUM((qz.qe[d.i]-cb.ce[d.i])*(qz.qe[d.i]-cb.ce[d.i])) AS dd
        |         FROM qz, cb, dims d GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, c FROM (SELECT vec_id, sub, c,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |              ORDER BY dd, c) AS rn FROM dist) WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, sub, c, dd FROM dist WHERE vec_id < 3),
        |ad AS (SELECT qd.qid, co.vec_id, SUM(qd.dd) AS adist
        |       FROM codes co
        |       JOIN cells ce ON ce.vec_id = co.vec_id
        |       JOIN probes p ON p.cid = ce.cid
        |       JOIN qd ON qd.qid = p.qid AND qd.sub = co.sub AND qd.c = co.c
        |       WHERE co.vec_id != qd.qid GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id, adist,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY adist, vec_id) AS rank FROM ad)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |       CAST(adist AS BIGINT) AS adist
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "q_pq_codes" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c,
        |              vec_id AS cvid, qe AS ce
        |       FROM q ORDER BY vec_id LIMIT 16),
        |dist AS (SELECT q.vec_id, CAST((d.i-1)//8 AS INT) AS sub,
        |           cb.c, cb.cvid,
        |           SUM((q.qe[d.i]-cb.ce[d.i])*(q.qe[d.i]-cb.ce[d.i])) AS dd
        |         FROM q, cb, dims d GROUP BY 1, 2, 3, 4),
        |codes AS (SELECT vec_id, sub, cvid FROM (SELECT vec_id, sub, cvid,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |              ORDER BY dd, c) AS rn FROM dist) WHERE rn = 1)
        |SELECT vec_id,
        |  CAST(MAX(CASE WHEN sub = 0 THEN cvid END) AS BIGINT) AS code0,
        |  CAST(SUM((sub + 1) * cvid) AS BIGINT) AS csum
        |FROM codes GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_emb_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.ed, b.ed) /
        |      (sqrt(list_dot_product(a.ed, a.ed)) *
        |       sqrt(list_dot_product(b.ed, b.ed))) > 0.35
        |ORDER BY 1, 2""".stripMargin,

    "q_ann_cosine_topk" -> CosineTopkOracleSql,

    "q_vec_label_stats" ->
      """WITH n AS (SELECT CAST(label AS BIGINT) AS label,
        |  CAST(FLOOR(list_dot_product(embedding::DOUBLE[],
        |       embedding::DOUBLE[]) * 1e6) AS BIGINT) AS n2f
        |FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(SUM(n2f) AS BIGINT) AS norm2_floor_sum
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    // exact-integer k-means ground truth: all three Lloyd rounds
    // unrolled in SQL — quantize, exact integer distances (ties →
    // lowest cid), truncated integer centroid means (`//` truncates
    // toward zero in DuckDB, mirrored by Scala Long division),
    // empty-cluster carry-forward via COALESCE
    "q_kmeans_exact" -> {
      val K = 4; val Iters = 3; val Dim = 64
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        s"""q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
           |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe
           |  FROM embeddings)""".stripMargin,
        s"dims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"c1 AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id < $K)")
      for (r <- 1 to Iters) {
        ctes += s"""d$r AS (SELECT q.vec_id, c.cid,
                   |  SUM((q.qe[d.i]-c.ce[d.i])*(q.qe[d.i]-c.ce[d.i])) AS dist
                   |  FROM q, c$r c, dims d GROUP BY 1, 2)""".stripMargin
        ctes += s"""a$r AS (SELECT vec_id, cid AS cluster FROM
                   |  (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY
                   |     vec_id ORDER BY dist, cid) AS rn FROM d$r)
                   |  WHERE rn = 1)""".stripMargin
        if (r < Iters) {
          ctes += s"""s$r AS (SELECT a.cluster, d.i,
                     |  SUM(q.qe[d.i]) // COUNT(*) AS m
                     |  FROM a$r a JOIN q ON q.vec_id = a.vec_id, dims d
                     |  GROUP BY 1, 2)""".stripMargin
          ctes += s"""c${r + 1} AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
                     |  FROM c$r p LEFT JOIN (SELECT cluster AS cid,
                     |    list(m ORDER BY i) AS ce FROM s$r GROUP BY 1) n
                     |  USING (cid))""".stripMargin
        }
      }
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster" +
        s"\nFROM a$Iters ORDER BY vec_id"
    },

    // SemDeDup: the kmeans-exact Lloyd replay on the vec_id<200 slice
    // (fresh sq/sc/sd/sa/ss CTE names), then within-cluster double
    // cosine > 0.35 marks higher-id members as duplicates; survivors
    // = anti-join. Same quantization, distance, tie and truncated-mean
    // rules as q_kmeans_exact.
    "q_semdedup" -> {
      val K = 4; val Iters = 3; val Dim = 64
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        s"""sq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
           |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe,
           |  embedding::DOUBLE[] AS ed
           |  FROM embeddings WHERE vec_id < 200)""".stripMargin,
        s"sdims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"sc1 AS (SELECT vec_id AS cid, qe AS ce FROM sq WHERE vec_id < $K)")
      for (r <- 1 to Iters) {
        ctes += s"""sd$r AS (SELECT q.vec_id, c.cid,
                   |  SUM((q.qe[d.i]-c.ce[d.i])*(q.qe[d.i]-c.ce[d.i])) AS dist
                   |  FROM sq q, sc$r c, sdims d GROUP BY 1, 2)""".stripMargin
        ctes += s"""sa$r AS (SELECT vec_id, cid AS cluster FROM
                   |  (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY
                   |     vec_id ORDER BY dist, cid) AS rn FROM sd$r)
                   |  WHERE rn = 1)""".stripMargin
        if (r < Iters) {
          ctes += s"""ss$r AS (SELECT a.cluster, d.i,
                     |  SUM(q.qe[d.i]) // COUNT(*) AS m
                     |  FROM sa$r a JOIN sq q ON q.vec_id = a.vec_id, sdims d
                     |  GROUP BY 1, 2)""".stripMargin
          ctes += s"""sc${r + 1} AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
                     |  FROM sc$r p LEFT JOIN (SELECT cluster AS cid,
                     |    list(m ORDER BY i) AS ce FROM ss$r GROUP BY 1) n
                     |  USING (cid))""".stripMargin
        }
      }
      ctes += s"""sdup AS (SELECT DISTINCT y.vec_id
                 |  FROM sa$Iters x JOIN sq a ON a.vec_id = x.vec_id
                 |  JOIN sa$Iters y ON y.cluster = x.cluster
                 |  JOIN sq b ON b.vec_id = y.vec_id
                 |  WHERE a.vec_id < b.vec_id
                 |    AND list_dot_product(a.ed, b.ed) /
                 |        (sqrt(list_dot_product(a.ed, a.ed)) *
                 |         sqrt(list_dot_product(b.ed, b.ed))) > 0.35)""".stripMargin
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster" +
        s"\nFROM sa$Iters s WHERE s.vec_id NOT IN (SELECT vec_id FROM sdup)" +
        s"\nORDER BY s.vec_id"
    },

    // corpus-scale SemDeDup: Lloyd replay on the FULL table + the
    // 16-table SRP bucket replay (q_emb_neardup_lsh pattern) as the
    // candidate source; dup = same-cluster verified-cosine candidate
    // with a lower id
    "q_semdedup_lsh" -> {
      val K = 4; val Iters = 3; val Dim = 64
      val buckets = (0 until 16).map(t =>
        s"SELECT vec_id, $t AS tj, ${graft.gen.OracleCte.lshBucketSql("ed", 64, 4, t)} AS bk FROM zq")
        .mkString("\nUNION ALL ")
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        s"""zq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
           |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe,
           |  embedding::DOUBLE[] AS ed
           |  FROM embeddings)""".stripMargin,
        s"zdims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"zc1 AS (SELECT vec_id AS cid, qe AS ce FROM zq WHERE vec_id < $K)")
      for (r <- 1 to Iters) {
        ctes += s"""zd$r AS (SELECT q.vec_id, c.cid,
                   |  SUM((q.qe[d.i]-c.ce[d.i])*(q.qe[d.i]-c.ce[d.i])) AS dist
                   |  FROM zq q, zc$r c, zdims d GROUP BY 1, 2)""".stripMargin
        ctes += s"""za$r AS (SELECT vec_id, cid AS cluster FROM
                   |  (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY
                   |     vec_id ORDER BY dist, cid) AS rn FROM zd$r)
                   |  WHERE rn = 1)""".stripMargin
        if (r < Iters) {
          ctes += s"""zs$r AS (SELECT a.cluster, d.i,
                     |  SUM(q.qe[d.i]) // COUNT(*) AS m
                     |  FROM za$r a JOIN zq q ON q.vec_id = a.vec_id, zdims d
                     |  GROUP BY 1, 2)""".stripMargin
          ctes += s"""zc${r + 1} AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
                     |  FROM zc$r p LEFT JOIN (SELECT cluster AS cid,
                     |    list(m ORDER BY i) AS ce FROM zs$r GROUP BY 1) n
                     |  USING (cid))""".stripMargin
        }
      }
      ctes += s"zb AS ($buckets)"
      ctes += s"""zcand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 |  FROM zb x JOIN zb y ON x.tj = y.tj AND x.bk = y.bk
                 |  WHERE x.vec_id < y.vec_id)""".stripMargin
      ctes += s"""zdup AS (SELECT DISTINCT c.id_b AS vec_id
                 |  FROM zcand c
                 |  JOIN za$Iters xa ON xa.vec_id = c.id_a
                 |  JOIN za$Iters yb ON yb.vec_id = c.id_b
                 |    AND yb.cluster = xa.cluster
                 |  JOIN zq a ON a.vec_id = c.id_a
                 |  JOIN zq b ON b.vec_id = c.id_b
                 |  WHERE list_dot_product(a.ed, b.ed) /
                 |        (sqrt(list_dot_product(a.ed, a.ed)) *
                 |         sqrt(list_dot_product(b.ed, b.ed))) > 0.35)""".stripMargin
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster" +
        s"\nFROM za$Iters s WHERE s.vec_id NOT IN (SELECT vec_id FROM zdup)" +
        s"\nORDER BY s.vec_id"
    },

    // LINEAGE bucketing ground truth — Spark's Murmur3_x86_32 (seed
    // 42, word pass + per-byte tail, fmix) replayed in SQL with
    // HUGEINT modular 32-bit arithmetic: per-bucket row counts are
    // pmod(murmur3(image_id), 8) group sizes, bit-exact
    // pruned scans are transparent to the result set: the oracle is
    // the plain predicate over the full table (the PRUNING itself is
    // asserted engine-side before the rows come back)
    "q_lineage_range" ->
      s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE k BETWEEN 50 AND 150 ORDER BY k""".stripMargin,

    "q_lineage_lookup" ->
      s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE image_id IN ('img-3', 'img-77', 'img-150')
         |ORDER BY k""".stripMargin,

    // MERGE semantics replayed plainly: delta rows win on key match,
    // unmatched delta rows insert, everything else passes through
    // (the engine-side bucket pruning is asserted before rows return)
    "q_lineage_merge" ->
      s"""WITH $I,
         |base AS (SELECT image_id, k, w, h FROM img2),
         |delta AS (
         |  SELECT image_id, k, w + 1000 AS w, h FROM base
         |  WHERE image_id IN ('img-3', 'img-77')
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    ('img-new-1', CAST(9000001 AS BIGINT),
         |     CAST(42 AS BIGINT), CAST(24 AS BIGINT)),
         |    ('img-new-2', CAST(9000002 AS BIGINT),
         |     CAST(50 AS BIGINT), CAST(30 AS BIGINT))
         |  ) v(image_id, k, w, h)),
         |merged AS (
         |  SELECT * FROM delta
         |  UNION ALL
         |  SELECT * FROM base
         |  WHERE image_id NOT IN (SELECT image_id FROM delta))
         |SELECT image_id, k, w, h FROM merged
         |ORDER BY k, image_id""".stripMargin,

    "q_lineage_delete" ->
      s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE image_id NOT IN ('img-5', 'img-150', 'img-absent')
         |ORDER BY k""".stripMargin,

    "q_lineage_cdc" ->
      s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE k % 2 = 1 ORDER BY k""".stripMargin,

    // evolution replayed plainly: h renamed, w dropped, label added
    // with its default for pre-evolution rows; the merged delta row
    // carries its own label
    "q_lineage_evolve" ->
      s"""WITH $I,
         |evolved AS (
         |  SELECT image_id, k, h AS height, 'unlabeled' AS label
         |  FROM img2
         |  UNION ALL
         |  SELECT 'img-new-9', CAST(9000009 AS BIGINT),
         |         CAST(64 AS BIGINT), 'fresh')
         |SELECT image_id, k, height, label FROM evolved
         |ORDER BY k""".stripMargin,

    "q_lineage_metrics" -> {
      val W = 4294967296L
      def mul(e: String, c: Long): String =
        s"CAST((CAST($e AS HUGEINT) * $c) % $W AS BIGINT)"
      def mix(h: String, k: String): String = {
        val k1 = mul(s"($k)", 3432918353L)
        val k1r = s"(($k1 << 15) % $W | ($k1 >> 17))"
        val k1m = mul(k1r, 461845907L)
        val hx = s"(xor($h, $k1m))"
        val hr = s"((($hx << 13) % $W) | ($hx >> 19))"
        s"CAST((CAST($hr AS HUGEINT) * 5 + 3864292196) % $W AS BIGINT)"
      }
      s"""WITH i0 AS (SELECT CAST(p_partkey AS BIGINT) AS k,
         |  'img-' || CAST(p_partkey AS VARCHAR) AS s FROM part),
         |i1 AS (SELECT k, s, LENGTH(s) AS n,
         |  list_transform(generate_series(1, LENGTH(s)),
         |    i -> CAST(ascii(substr(s, i, 1)) AS BIGINT)) AS b
         |  FROM i0),
         |mh0 AS (SELECT *, CAST(42 AS BIGINT) AS h FROM i1),
         |mh1 AS (SELECT k, n, b, CASE WHEN n >= 4 THEN
         |    ${mix("h", "b[1] + 256*b[2] + 65536*b[3] + 16777216*b[4]")}
         |  ELSE h END AS h FROM mh0),
         |mh2 AS (SELECT k, n, b, CASE WHEN n >= 8 THEN
         |    ${mix("h", "b[5] + 256*b[6] + 65536*b[7] + 16777216*b[8]")}
         |  ELSE h END AS h FROM mh1),
         |mh3 AS (SELECT k, n, b, CASE WHEN n >= 12 THEN
         |    ${mix("h", "b[9] + 256*b[10] + 65536*b[11] + 16777216*b[12]")}
         |  ELSE h END AS h FROM mh2),
         |mt1 AS (SELECT k, n, b, CASE WHEN n % 4 >= 1 THEN
         |    ${mix("h", "b[n - n % 4 + 1]")}
         |  ELSE h END AS h FROM mh3),
         |mt2 AS (SELECT k, n, b, CASE WHEN n % 4 >= 2 THEN
         |    ${mix("h", "b[n - n % 4 + 2]")}
         |  ELSE h END AS h FROM mt1),
         |mt3 AS (SELECT k, n, b, CASE WHEN n % 4 >= 3 THEN
         |    ${mix("h", "b[n - n % 4 + 3]")}
         |  ELSE h END AS h FROM mt2),
         |mf1 AS (SELECT k, xor(h, n) AS h FROM mt3),
         |mf2 AS (SELECT k, xor(h, h >> 16) AS h FROM mf1),
         |mf3 AS (SELECT k, ${mul("h", 2246822507L)} AS h FROM mf2),
         |mf4 AS (SELECT k, xor(h, h >> 13) AS h FROM mf3),
         |mf5 AS (SELECT k, ${mul("h", 3266489909L)} AS h FROM mf4),
         |mf6 AS (SELECT k, xor(h, h >> 16) AS h FROM mf5),
         |mf7 AS (SELECT k, CASE WHEN h >= 2147483648 THEN h - 4294967296
         |  ELSE h END AS hs FROM mf6)
         |SELECT CAST(((hs % 8) + 8) % 8 AS BIGINT) AS part,
         |  CAST(COUNT(*) AS BIGINT) AS rows
         |FROM mf7 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // FMASK ground truth — full multi-pass replay in SQL: PCP/water/
    // land cascade (deterministic IEEE ratios), Twater/Tlo/Thi and the
    // lprob-land threshold via the 100-bin percentile pattern over
    // MASKED per-pixel doubles (regenerated with exact op order),
    // no-land fallback, wprob/lprob probability maps, erode-5 (valid-
    // neighbor min join) then dilate-3
    "q_fmask" -> {
      def pctCte(name: String, src: String, pcts: Seq[Double]): String = {
        val pl = pcts.mkString(", ")
        s"""${name}mm AS (SELECT k, COUNT(mv) AS cnt, MIN(mv) AS mn,
           |    MAX(mv) AS mx FROM $src GROUP BY k),
           |${name}hb AS (SELECT s.k,
           |    LEAST(99, CAST(FLOOR((s.mv - m.mn)/((m.mx - m.mn)/100.0))
           |      AS BIGINT)) AS bin,
           |    COUNT(*) AS cnt
           |  FROM $src s JOIN ${name}mm m ON m.k = s.k
           |  WHERE s.mv IS NOT NULL AND m.mx <> m.mn GROUP BY 1, 2),
           |${name}cu AS (SELECT k, bin, cnt,
           |    SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum
           |  FROM ${name}hb),
           |${name}tg AS (SELECT m.k, p.pct, p.pct/100.0*m.cnt AS target,
           |    m.mn, m.mx, m.cnt AS n
           |  FROM ${name}mm m, (SELECT unnest([$pl]) AS pct) p),
           |${name}sel AS (SELECT t.k, t.pct,
           |    CASE WHEN t.n = 0 THEN NULL
           |         WHEN t.mx = t.mn THEN t.mn
           |         ELSE t.mn + (t.mx - t.mn)/100.0 *
           |              (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
           |    END AS res
           |  FROM ${name}tg t LEFT JOIN ${name}cu c ON c.k = t.k
           |    AND c.cum >= t.target AND c.cum - c.cnt < t.target)""".stripMargin
      }
      s"""WITH $I, $SimgCte,
         |fb AS (SELECT unnest([0,1,2,3,4,5]) AS b),
         |fbp AS (SELECT s.k, CAST(t.b AS BIGINT) AS b,
         |         200 + (s.k*(t.b+3)) % 800 AS base,
         |         (s.k + 11*t.b) % 8 AS ax, (s.k + 17*t.b) % 8 AS ay
         |       FROM simg s CROSS JOIN fb t),
         |fpx AS (SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s JOIN fbp p ON p.k = s.k
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw),
         |sp0 AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS ib,
         |    MAX(CASE WHEN b=1 THEN v END) AS ig,
         |    MAX(CASE WHEN b=2 THEN v END) AS ir,
         |    MAX(CASE WHEN b=3 THEN v END) AS inr,
         |    MAX(CASE WHEN b=4 THEN v END) AS is1,
         |    MAX(CASE WHEN b=5 THEN v END) AS is2
         |  FROM fpx GROUP BY 1, 2, 3),
         |sp AS (SELECT k, x, y,
         |    CAST(ib AS DOUBLE)/1000 AS b, CAST(ig AS DOUBLE)/1000 AS g,
         |    CAST(ir AS DOUBLE)/1000 AS r, CAST(inr AS DOUBLE)/1000 AS n,
         |    CAST(is1 AS DOUBLE)/1000 AS s1, CAST(is2 AS DOUBLE)/1000 AS s2,
         |    (abs(ir - (CAST(ir+ig+ib AS DOUBLE)/3))
         |     + abs(ig - (CAST(ir+ig+ib AS DOUBLE)/3))
         |     + abs(ib - (CAST(ir+ig+ib AS DOUBLE)/3)))
         |      / (CAST(ir+ig+ib AS DOUBLE)/3) AS white
         |  FROM sp0),
         |feat AS (SELECT k, x, y, b, g, r, n, s1, s2, white,
         |    (n - r)/(n + r) AS ndvi, (g - s1)/(g + s1) AS ndsi
         |  FROM sp),
         |cls AS (SELECT k, x, y, s1, s2, white, ndvi, ndsi,
         |    CASE WHEN s2 > 0.4 AND s2 < 2.0 AND ndvi < 0.8 AND ndsi < 0.8
         |          AND b - 0.5*r > 0.08 AND white < 0.7 AND n/s1 > 0.75
         |         THEN 1 ELSE 0 END AS pcp,
         |    CASE WHEN (ndvi < 0.01 AND n < 0.7) OR (ndvi < 0.1 AND n < 0.8)
         |         THEN 1 ELSE 0 END AS water,
         |    1.0 - GREATEST(white, GREATEST(abs(ndsi), abs(ndvi))) AS vprob
         |  FROM feat),
         |cls2 AS (SELECT *, CASE WHEN water=0 AND pcp=0 THEN 1 ELSE 0 END
         |  AS land FROM cls),
         |hl AS (SELECT k, MAX(land) AS hasland FROM cls2 GROUP BY k),
         |wmask AS (SELECT k, CASE WHEN water=1 THEN s2 END AS mv FROM cls2),
         |${pctCte("tw", "wmask", Seq(82.5))},
         |lmask AS (SELECT c.k,
         |    CASE WHEN h.hasland = 1 THEN (CASE WHEN c.land=1 THEN c.s2 END)
         |         ELSE c.s2 END AS mv
         |  FROM cls2 c JOIN hl h ON h.k = c.k),
         |${pctCte("tl", "lmask", Seq(17.5, 82.5))},
         |ths AS (SELECT t.k,
         |    (SELECT res FROM twsel w WHERE w.k = t.k AND w.pct = 82.5)
         |      AS twater,
         |    MAX(CASE WHEN t.pct=17.5 THEN t.res END) AS tlo,
         |    MAX(CASE WHEN t.pct=82.5 THEN t.res END) AS thi
         |  FROM tlsel t GROUP BY t.k),
         |prob AS (SELECT c.k, c.x, c.y, c.pcp, c.water, c.land, c.s2,
         |    (h.twater - c.s2)/0.4 * (LEAST(c.s1, 1.1)/1.1) AS wprob,
         |    (h.thi + 0.4 - c.s2)/(h.thi + 0.4 - (h.tlo - 0.4)) * c.vprob
         |      AS lprob,
         |    h.tlo
         |  FROM cls2 c JOIN ths h ON h.k = c.k),
         |llmask AS (SELECT p.k,
         |    CASE WHEN p.lprob IS NOT NULL
         |          AND (CASE WHEN h.hasland = 1 THEN p.land = 1 ELSE true END)
         |         THEN p.lprob END AS mv
         |  FROM prob p JOIN hl h ON h.k = p.k),
         |${pctCte("lt", "llmask", Seq(82.5))},
         |lth AS (SELECT k, res + 0.2 + 0.0 AS lthresh
         |  FROM ltsel WHERE pct = 82.5),
         |fcl0 AS (SELECT p.k, p.x, p.y,
         |    CASE WHEN (p.pcp = 1 AND p.water = 1 AND p.wprob > 0.5)
         |           OR (p.pcp = 1 AND p.water = 0 AND p.lprob > l.lthresh)
         |           OR (p.lprob > 0.99 AND p.water = 0)
         |           OR (p.s2 > p.tlo + 0.25)
         |         THEN 1 ELSE 0 END AS c0,
         |    p.pcp, p.water
         |  FROM prob p JOIN lth l ON l.k = p.k),
         |foffs5 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-2,-1,0,1,2]) AS dx) a,
         |       (SELECT unnest([-2,-1,0,1,2]) AS dy) b),
         |fer AS (SELECT m0.k, m0.x, m0.y, MIN(mn.c0) AS e
         |  FROM fcl0 m0 JOIN foffs5 o ON true
         |  JOIN fcl0 mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |foffs3 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |       (SELECT unnest([-1,0,1]) AS dy) b),
         |fdl AS (SELECT m0.k, m0.x, m0.y, MAX(mn.e) AS d
         |  FROM fer m0 JOIN foffs3 o ON true
         |  JOIN fer mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3)
         |SELECT i.image_id,
         |  CAST(SUM(1 - d.d) AS BIGINT) AS n_final,
         |  CAST(SUM(d.d) AS BIGINT) AS n_cloud,
         |  CAST(SUM(c.pcp) AS BIGINT) AS n_pcp,
         |  CAST(SUM(c.water) AS BIGINT) AS n_water,
         |  CAST(SUM(CASE WHEN c.water=0 AND c.pcp=0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_land
         |FROM fcl0 c JOIN fdl d USING (k, x, y) JOIN img2 i ON i.k = c.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // THERMAL FMASK ground truth — reference constants on refl + BT
    // planes, same multi-pass SQL replay as q_fmask plus the 99.9%-PCP
    // early-exit override (mask = pcp) and the BT-based Twater mask
    "q_fmask_thermal" -> fmaskThermalOracle(5),
    // BT from the INDEPENDENT LWIR band file (multi-file band stack)
    "q_fmask_thermal_lwir" -> fmaskThermalOracle(6),

    // THERMAL ACCA ground truth — the full reference cascade replayed
    // in SQL: filters 1-7 as deterministic IEEE ratios, pass-2 cloud
    // statistics via ORDERED list_reduce folds (bit-identical to the
    // kernel's pixel-order accumulation, the one place float sums are
    // order-sensitive), LWIR percentiles via the proven 100-bin
    // interpolation pattern, skew-capped threshold shift, warm/cold
    // acceptance, dilate join, engine-derived smear offsets
    "q_acca_thermal" -> accaThermalOracle(5),
    // same cascade, temperature from the INDEPENDENT LWIR band file
    // (multi-file band stack) instead of the swir2-derived proxy
    "q_acca_thermal_lwir" -> accaThermalOracle(6),

    // ACCA cloud-mask ground truth: the proxy cascade is fully SQL-
    // expressible — NDVI/whiteness ratios are deterministic IEEE
    // divisions of exact integers, the pass-2 threshold is an exact
    // integer mean, dilate is a 3×3 valid-neighbor max join, and the
    // sun-geometry shadow smear's shift list comes from the SAME
    // Algorithms.smearOffsets the engine uses (embedded as literals)
    "q_cloud_mask" -> {
      val offs = Algorithms.smearOffsets(45.0, 135.0, 450.0)
      val smearJoin =
        if (offs.isEmpty) "" else {
          val vals = offs.map { case (sx, sy) => s"($sx, $sy)" }.mkString(", ")
          s"""smoffs AS (SELECT * FROM (VALUES $vals) AS t(sx, sy)),"""
        }
      val smearExpr =
        if (offs.isEmpty) "g0.g AS f"
        else "GREATEST(g0.g, COALESCE(MAX(gs.g), 0)) AS f"
      val smearFrom =
        if (offs.isEmpty) "FROM grown g0 GROUP BY 1, 2, 3, g0.g"
        else """FROM grown g0
               |  LEFT JOIN smoffs s ON true
               |  LEFT JOIN grown gs ON gs.k = g0.k
               |    AND gs.x = g0.x - s.sx AND gs.y = g0.y - s.sy
               |  GROUP BY 1, 2, 3, g0.g""".stripMargin
      s"""WITH $I, $SimgCte,
         |cbands AS (SELECT unnest([0,1,2,3]) AS b),
         |cbandp AS (
         |  SELECT s.k, CAST(cb.b AS BIGINT) AS b,
         |         200 + (s.k*(cb.b+3)) % 800 AS base,
         |         (s.k + 11*cb.b) % 8 AS ax,
         |         (s.k + 17*cb.b) % 8 AS ay
         |  FROM simg s CROSS JOIN cbands cb),
         |cpx AS (
         |  SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s
         |  JOIN cbandp p ON p.k = s.k
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw),
         |spec AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS blue,
         |    MAX(CASE WHEN b=1 THEN v END) AS green,
         |    MAX(CASE WHEN b=2 THEN v END) AS red,
         |    MAX(CASE WHEN b=3 THEN v END) AS nir
         |  FROM cpx GROUP BY 1, 2, 3),
         |p1 AS (SELECT k, x, y, blue,
         |    CASE WHEN blue > 500
         |          AND CAST(nir-red AS DOUBLE)/(nir+red) < 0.3
         |          AND (abs(red - (CAST(red+green+blue AS DOUBLE)/3))
         |             + abs(green - (CAST(red+green+blue AS DOUBLE)/3))
         |             + abs(blue - (CAST(red+green+blue AS DOUBLE)/3)))
         |            / (CAST(red+green+blue AS DOUBLE)/3) < 0.7 THEN 1
         |         WHEN blue > 500
         |          AND CAST(nir-red AS DOUBLE)/(nir+red) < 0.6 THEN 2
         |         ELSE 0 END AS pass1
         |  FROM spec),
         |th AS (SELECT k,
         |    CASE WHEN COUNT(CASE WHEN pass1=1 THEN 1 END) = 0 THEN NULL
         |         ELSE CAST(SUM(CASE WHEN pass1=1 THEN blue END) AS DOUBLE)
         |              / COUNT(CASE WHEN pass1=1 THEN 1 END) END AS thresh
         |  FROM p1 GROUP BY k),
         |msk AS (SELECT p.k, p.x, p.y,
         |    CASE WHEN p.pass1 = 1 OR (p.pass1 = 2 AND t.thresh IS NOT NULL
         |           AND p.blue >= t.thresh) THEN 1 ELSE 0 END AS m
         |  FROM p1 p JOIN th t ON t.k = p.k),
         |offs3 AS (SELECT a.dx, b.dy FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |          (SELECT unnest([-1,0,1]) AS dy) b),
         |grown AS (SELECT m0.k, m0.x, m0.y, MAX(mn.m) AS g
         |  FROM msk m0 JOIN offs3 o ON true
         |  JOIN msk mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |$smearJoin
         |fin AS (SELECT g0.k, g0.x, g0.y,
         |    $smearExpr
         |  $smearFrom)
         |SELECT i.image_id,
         |  CAST(SUM(CASE WHEN p.pass1=1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass1,
         |  CAST(SUM(CASE WHEN p.pass1=2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_amb,
         |  CAST(SUM(m.m) AS BIGINT) AS n_cloud,
         |  CAST(SUM(f.f) AS BIGINT) AS n_final
         |FROM p1 p
         |JOIN msk m USING (k, x, y)
         |JOIN fin f USING (k, x, y)
         |JOIN img2 i ON i.k = p.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // pansharp_brovey ground truth: with a 2× upscale every Catmull-Rom
    // intermediate is an exact dyadic rational (denominator 16384), so
    // the upscaled planes regenerate in PURE INTEGER SQL (c128 row
    // pass, c16384 column pass, clamped 4×4 windows, nodata → NULL via
    // COUNT(*)=4); the Brovey ratio then uses the same exact double
    // operands as the Scala kernel, making floor(out·1e3) sums
    // value-exact (verified per-image against the engine)
    "q_pansharp" ->
      s"""WITH $I, $SimgCte,
         |pbands AS (SELECT unnest([0,1,2,3]) AS b),
         |pbandp AS (
         |  SELECT s.k, CAST(pb.b AS BIGINT) AS b,
         |         200 + (s.k*(pb.b+3)) % 800 AS base,
         |         (s.k + 11*pb.b) % 8 AS ax,
         |         (s.k + 17*pb.b) % 8 AS ay
         |  FROM simg s CROSS JOIN pbands pb),
         |ppx AS (
         |  SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s
         |  JOIN pbandp p ON p.k = s.k
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw),
         |xg AS (SELECT s.k, s.w, s.h, xs.gx,
         |         CAST(FLOOR((xs.gx-1)/2.0) AS BIGINT) AS x1,
         |         CASE WHEN xs.gx % 2 = 0 THEN 3 ELSE 1 END AS tnx
         |       FROM simg s CROSS JOIN LATERAL
         |         (SELECT unnest(generate_series(0,
         |            CAST(2*s.w-1 AS INT))) AS gx) xs),
         |offs AS (SELECT unnest([0,1,2,3]) AS j),
         |rown AS (SELECT x.k, x.gx, x.tnx, o.j,
         |           LEAST(x.w-1, GREATEST(0, x.x1 + o.j - 1)) AS sx
         |         FROM xg x CROSS JOIN offs o),
         |rowv AS (SELECT r.k, p.b, r.gx, p.y, r.tnx, r.j, p.v
         |         FROM rown r JOIN ppx p ON p.k = r.k AND p.x = r.sx),
         |rowc AS (SELECT k, b, gx, y, tnx,
         |  CASE WHEN COUNT(*) = 4 THEN
         |    128*MAX(CASE WHEN j=1 THEN v END)
         |    + 16*tnx*(MAX(CASE WHEN j=2 THEN v END)
         |        - MAX(CASE WHEN j=0 THEN v END))
         |    + 4*tnx*tnx*(2*MAX(CASE WHEN j=0 THEN v END)
         |        - 5*MAX(CASE WHEN j=1 THEN v END)
         |        + 4*MAX(CASE WHEN j=2 THEN v END)
         |        - MAX(CASE WHEN j=3 THEN v END))
         |    + tnx*tnx*tnx*(3*(MAX(CASE WHEN j=1 THEN v END)
         |        - MAX(CASE WHEN j=2 THEN v END))
         |        + MAX(CASE WHEN j=3 THEN v END)
         |        - MAX(CASE WHEN j=0 THEN v END))
         |  END AS c128
         |  FROM rowv GROUP BY k, b, gx, y, tnx),
         |yg AS (SELECT s.k, s.h, ys.gy,
         |         CAST(FLOOR((ys.gy-1)/2.0) AS BIGINT) AS y1,
         |         CASE WHEN ys.gy % 2 = 0 THEN 3 ELSE 1 END AS tny
         |       FROM simg s CROSS JOIN LATERAL
         |         (SELECT unnest(generate_series(0,
         |            CAST(2*s.h-1 AS INT))) AS gy) ys),
         |coln AS (SELECT y.k, y.gy, y.tny, o.j,
         |           LEAST(y.h-1, GREATEST(0, y.y1 + o.j - 1)) AS sy
         |         FROM yg y CROSS JOIN offs o),
         |colv AS (SELECT c.k, r.b, r.gx, c.gy, c.tny, c.j, r.c128
         |         FROM coln c JOIN rowc r ON r.k = c.k AND r.y = c.sy
         |         WHERE r.c128 IS NOT NULL),
         |up AS (SELECT k, b, gx, gy,
         |  CASE WHEN COUNT(*) = 4 THEN
         |    128*MAX(CASE WHEN j=1 THEN c128 END)
         |    + 16*tny*(MAX(CASE WHEN j=2 THEN c128 END)
         |        - MAX(CASE WHEN j=0 THEN c128 END))
         |    + 4*tny*tny*(2*MAX(CASE WHEN j=0 THEN c128 END)
         |        - 5*MAX(CASE WHEN j=1 THEN c128 END)
         |        + 4*MAX(CASE WHEN j=2 THEN c128 END)
         |        - MAX(CASE WHEN j=3 THEN c128 END))
         |    + tny*tny*tny*(3*(MAX(CASE WHEN j=1 THEN c128 END)
         |        - MAX(CASE WHEN j=2 THEN c128 END))
         |        + MAX(CASE WHEN j=3 THEN c128 END)
         |        - MAX(CASE WHEN j=0 THEN c128 END))
         |  END AS c16384
         |  FROM colv GROUP BY k, b, gx, gy, tny),
         |piv AS (SELECT k, gx, gy,
         |          MAX(CASE WHEN b=2 THEN c16384 END) AS r16,
         |          MAX(CASE WHEN b=1 THEN c16384 END) AS g16,
         |          MAX(CASE WHEN b=0 THEN c16384 END) AS b16,
         |          MAX(CASE WHEN b=3 THEN c16384 END) AS n16,
         |          COUNT(c16384) AS nbv
         |        FROM up GROUP BY k, gx, gy),
         |sharp AS (SELECT p.k, p.gx, p.gy, p.r16, p.g16, p.b16,
         |          ((200 + (p.k*3) % 800) + (p.k%8)*p.gx + (p.k%8)*p.gy
         |            - CAST(p.n16 AS DOUBLE)/65536.0)
         |          / ((CAST(p.r16 AS DOUBLE) + p.g16 + p.b16)/65536.0) AS dnf
         |        FROM piv p WHERE p.nbv = 4)
         |SELECT i.image_id, CAST(3*COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(
         |    CAST(FLOOR(CAST(s.r16 AS DOUBLE)/16384.0 * s.dnf * 1000.0)
         |      AS BIGINT)
         |    + CAST(FLOOR(CAST(s.g16 AS DOUBLE)/16384.0 * s.dnf * 1000.0)
         |      AS BIGINT)
         |    + CAST(FLOOR(CAST(s.b16 AS DOUBLE)/16384.0 * s.dnf * 1000.0)
         |      AS BIGINT)) AS BIGINT) AS fsum
         |FROM sharp s JOIN img2 i ON i.k = s.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact-integer pixel-spectra k-means ground truth: pixels
    // regenerated via pixelGen, spectra as ordered integer lists,
    // per-image-first seeds (string image_id order, matching Spark's
    // orderBy), three unrolled Lloyd rounds with `//` centroid means
    "q_kmeans_pixels_exact" -> {
      val K = 4; val Iters = 3; val Dim = 6
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        I, SimgCte, B, PxCte,
        """spx AS (SELECT i.image_id, p.x, p.y, list(p.v ORDER BY p.b) AS qe
          |  FROM px p JOIN img2 i ON i.k = p.k GROUP BY 1, 2, 3)""".stripMargin,
        s"dims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"""c1 AS (SELECT ROW_NUMBER() OVER (ORDER BY image_id) - 1 AS cid,
           |  qe AS ce FROM
           |  (SELECT image_id, qe, ROW_NUMBER() OVER (PARTITION BY image_id
           |     ORDER BY y, x) AS rn FROM spx)
           |  WHERE rn = 1 ORDER BY image_id LIMIT $K)""".stripMargin)
      for (r <- 1 to Iters) {
        ctes += s"""d$r AS (SELECT q.image_id, q.x, q.y, c.cid,
                   |  SUM((q.qe[d.i]-c.ce[d.i])*(q.qe[d.i]-c.ce[d.i])) AS dist
                   |  FROM spx q, c$r c, dims d GROUP BY 1, 2, 3, 4)""".stripMargin
        ctes += s"""a$r AS (SELECT image_id, x, y, cid AS cluster FROM
                   |  (SELECT image_id, x, y, cid, ROW_NUMBER() OVER (
                   |     PARTITION BY image_id, x, y ORDER BY dist, cid) AS rn
                   |   FROM d$r) WHERE rn = 1)""".stripMargin
        if (r < Iters) {
          ctes += s"""s$r AS (SELECT a.cluster, d.i,
                     |  SUM(q.qe[d.i]) // COUNT(*) AS m
                     |  FROM a$r a JOIN spx q USING (image_id, x, y), dims d
                     |  GROUP BY 1, 2)""".stripMargin
          ctes += s"""c${r + 1} AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
                     |  FROM c$r p LEFT JOIN (SELECT cluster AS cid,
                     |    list(m ORDER BY i) AS ce FROM s$r GROUP BY 1) n
                     |  USING (cid))""".stripMargin
        }
      }
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT image_id, CAST(cluster AS BIGINT) AS cluster," +
        s" CAST(COUNT(*) AS BIGINT) AS n_px" +
        s"\nFROM a$Iters GROUP BY 1, 2 ORDER BY image_id, cluster"
    },

    // int8 quantization ground truth: identical float→double widen,
    // IEEE divide, floor — every digest an exact integer
    "q_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
        |s AS (SELECT vec_id, ed,
        |        list_max(list_transform(ed, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |        CASE WHEN scale = 0 THEN list_transform(ed, x -> 0)
        |             ELSE list_transform(ed,
        |               x -> CAST(FLOOR(x * 127.0 / scale) AS INT)) END AS q
        |      FROM s)
        |SELECT vec_id, CAST(FLOOR(scale * 1e6) AS BIGINT) AS scale_fl,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  CAST(list_min(q) AS BIGINT) AS qmin,
        |  CAST(list_max(q) AS BIGINT) AS qmax
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_events_top" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS rn FROM events)
        |SELECT user_id, event_id, value FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // skyline ground truth: the quadratic NOT-EXISTS strict-dominance
    // definition the bucketed prefix-max plan must reproduce exactly
    "q_skyline" ->
      """WITH sky AS (SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS vsum
        |  FROM events GROUP BY 1)
        |SELECT a.user_id, a.n_events, a.vsum FROM sky a
        |WHERE NOT EXISTS (SELECT 1 FROM sky b
        |  WHERE b.n_events >= a.n_events AND b.vsum >= a.vsum
        |    AND (b.n_events > a.n_events OR b.vsum > a.vsum))
        |ORDER BY user_id""".stripMargin,

    // median/MAD replay: cumulative order statistics over the
    // (type, value) histogram — doubled median = val(lo)+val(hi) at
    // 0-based ranks (n−1)//2 and n//2, repeated over the deviation
    // histogram for mad4; outlier rule 2·dev2 > 3·mad4
    "q_mad_outliers" ->
      """WITH mh AS (SELECT event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |mc1 AS (SELECT event_type, vc, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY vc) AS upto,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM mh),
        |mlo AS (SELECT event_type, vc AS vlo, n FROM mc1
        |  WHERE upto > (n - 1) // 2 AND upto - c <= (n - 1) // 2),
        |mhi AS (SELECT event_type, vc AS vhi FROM mc1
        |  WHERE upto > n // 2 AND upto - c <= n // 2),
        |mmd AS (SELECT l.event_type, l.n, l.vlo + h.vhi AS med2
        |  FROM mlo l JOIN mhi h USING (event_type)),
        |mdv AS (SELECT mh.event_type, ABS(2 * mh.vc - m.med2) AS dv,
        |    CAST(SUM(mh.c) AS BIGINT) AS c
        |  FROM mh JOIN mmd m USING (event_type) GROUP BY 1, 2),
        |mc2 AS (SELECT event_type, dv, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY dv) AS upto,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM mdv),
        |dlo AS (SELECT event_type, dv AS dvlo FROM mc2
        |  WHERE upto > (n - 1) // 2 AND upto - c <= (n - 1) // 2),
        |dhi AS (SELECT event_type, dv AS dvhi FROM mc2
        |  WHERE upto > n // 2 AND upto - c <= n // 2),
        |mmad AS (SELECT l.event_type, l.dvlo + h.dvhi AS mad4
        |  FROM dlo l JOIN dhi h USING (event_type)),
        |mout AS (SELECT d.event_type, CAST(SUM(d.c) AS BIGINT) AS nout
        |  FROM mdv d JOIN mmad a USING (event_type)
        |  WHERE 2 * d.dv > 3 * a.mad4 GROUP BY 1)
        |SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
        |  CAST(m.med2 AS BIGINT) AS med2, CAST(a.mad4 AS BIGINT) AS mad4,
        |  CAST(COALESCE(o.nout, 0) AS BIGINT) AS n_outliers
        |FROM mmd m JOIN mmad a USING (event_type)
        |LEFT JOIN mout o USING (event_type)
        |ORDER BY 1""".stripMargin,

    "q_events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id,
        |  CASE WHEN LAG(us) OVER (PARTITION BY user_id
        |         ORDER BY us, event_id) IS NULL THEN 1
        |       WHEN us - LAG(us) OVER (PARTITION BY user_id
        |         ORDER BY us, event_id) > 1800000000 THEN 1
        |       ELSE 0 END AS flag
        |  FROM e)
        |SELECT user_id, CAST(SUM(flag) AS BIGINT) AS n_sessions,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,

    // cohort = per-user MIN day; offsets are exact date subtraction
    "q_events_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY 1)
        |SELECT CAST(f.cohort AS VARCHAR) AS cohort,
        |       CAST(e.d - f.cohort AS BIGINT) AS day_offset,
        |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // greedy-earliest per-step funnel chain replayed stage by stage
    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + 86400000000 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // DuckDB's native ASOF JOIN is the ground truth for the windowed
    // as-of implementation (greatest v.ts <= c.ts per user)
    "q_events_asof" ->
      """WITH v AS (SELECT user_id, ts, CAST(MAX(event_id) AS BIGINT)
        |             AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click')
        |SELECT CAST(c.event_id AS BIGINT) AS click_id, c.user_id,
        |       v.view_id
        |FROM c ASOF JOIN v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY click_id""".stripMargin,

    // plain theta join is the ground truth for the bucketed range join
    "q_events_range" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error')
        |SELECT CAST(c.event_id AS BIGINT) AS click_id,
        |       CAST(e.event_id AS BIGINT) AS err_id
        |FROM c JOIN e ON c.user_id = e.user_id
        | AND e.ts >= c.ts
        | AND epoch_us(e.ts) - epoch_us(c.ts) <= 3600000000
        |ORDER BY click_id, err_id""".stripMargin,

    "q_tpch_pricing" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
        |    AS sum_price_fl,
        |  SUM(l_quantity) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // greedy NMS ground truth: ranks in (score DESC, box_id) order,
    // per-rank suppression bitmasks from the exact cross-multiplied
    // IoU>1/2 test, then the greedy scan replayed as a 12-step
    // recursive walk carrying (kept-mask, suppressed-mask)
    "q_nms" -> nmsOracleSql,

    // greedy matching ground truth: per-step argmax over unclaimed
    // gts via lexicographic struct MAX on (qIoU, -grk), claimed-gt
    // bitmask carried through the 12-step recursive walk
    "q_box_match" -> boxMatchOracleSql,

    // IoU-tracker ground truth: the same fixture arithmetic, mutual
    // argmax via two ROW_NUMBER windows on quantized IoU, then the
    // 3-step origin pointer walk as chained LEFT JOINs
    "q_track_iou" -> trackOracleSql,

    // Haar ground truth: 2×2 parity pivot per level — a/b/c/d via
    // CASE on (x%2, y%2), LL = floor-mean, oriented detail sums
    "q_haar" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |ha1 AS (SELECT k, x//2 AS u, y//2 AS v,
         |          SUM(CASE WHEN x%2=0 AND y%2=0 THEN z END) AS a,
         |          SUM(CASE WHEN x%2=1 AND y%2=0 THEN z END) AS b,
         |          SUM(CASE WHEN x%2=0 AND y%2=1 THEN z END) AS c,
         |          SUM(CASE WHEN x%2=1 AND y%2=1 THEN z END) AS d
         |        FROM demp WHERE x < 2*(w//2) AND y < 2*(h//2)
         |        GROUP BY 1, 2, 3),
         |hb1 AS (SELECT k, u, v, (a+b+c+d)//4 AS ll,
         |          ABS((a+c)-(b+d)) AS ph, ABS((a+b)-(c+d)) AS pv,
         |          ABS(a-b-c+d) AS pd
         |        FROM ha1),
         |hl1 AS (SELECT k, CAST(SUM(ph) AS BIGINT) AS h1_abs,
         |          CAST(SUM(pv) AS BIGINT) AS v1_abs,
         |          CAST(SUM(pd) AS BIGINT) AS d1_abs
         |        FROM hb1 GROUP BY 1),
         |ha2 AS (SELECT t.k, t.u//2 AS p2, t.v//2 AS q2,
         |          SUM(CASE WHEN t.u%2=0 AND t.v%2=0 THEN t.ll END) AS a,
         |          SUM(CASE WHEN t.u%2=1 AND t.v%2=0 THEN t.ll END) AS b,
         |          SUM(CASE WHEN t.u%2=0 AND t.v%2=1 THEN t.ll END) AS c,
         |          SUM(CASE WHEN t.u%2=1 AND t.v%2=1 THEN t.ll END) AS d
         |        FROM hb1 t JOIN simg s ON s.k = t.k
         |        WHERE t.u < 2*((s.w//2)//2) AND t.v < 2*((s.h//2)//2)
         |        GROUP BY 1, 2, 3),
         |hb2 AS (SELECT k, (a+b+c+d)//4 AS ll,
         |          ABS((a+c)-(b+d)) AS ph, ABS((a+b)-(c+d)) AS pv,
         |          ABS(a-b-c+d) AS pd
         |        FROM ha2),
         |hl2 AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_ll2,
         |          CAST(SUM(ph) AS BIGINT) AS h2_abs,
         |          CAST(SUM(pv) AS BIGINT) AS v2_abs,
         |          CAST(SUM(pd) AS BIGINT) AS d2_abs,
         |          CAST(SUM(ll) AS BIGINT) AS ll2_sum
         |        FROM hb2 GROUP BY 1)
         |SELECT s.image_id, l2.n_ll2, l1.h1_abs, l1.v1_abs, l1.d1_abs,
         |  l2.h2_abs, l2.v2_abs, l2.d2_abs, l2.ll2_sum
         |FROM hl1 l1 JOIN hl2 l2 ON l2.k = l1.k
         |JOIN simg s ON s.k = l1.k
         |ORDER BY s.image_id""".stripMargin,

    // CLIP-score ground truth: bq re-derives the quantized block-mean
    // embedding (PhashCte); caption buckets via md5-hex-digit hashing;
    // keep = score·n ≥ Σscores (division-free corpus-mean test)
    "q_clipscore" ->
      s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte,
         |ctk0 AS (SELECT k, unnest(string_split(caption, ' ')) AS tok
         |        FROM simg),
         |ctk AS (SELECT k, md5(tok) AS hm FROM ctk0),
         |ctb AS (SELECT k,
         |          CAST((${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)}) % 64 AS BIGINT) AS bi,
         |          CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM ctk GROUP BY 1, 2),
         |cdot AS (SELECT q.k,
         |          COALESCE(SUM(q.mq * c.cnt), 0) AS score
         |        FROM bq q LEFT JOIN ctb c ON c.k = q.k
         |          AND c.bi = q.byi*8 + q.bxi
         |        GROUP BY 1),
         |ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(score) AS BIGINT) AS ts FROM cdot)
         |SELECT s.image_id, CAST(d.score AS BIGINT) AS score,
         |  CAST(CASE WHEN d.score * t.n >= t.ts THEN 1 ELSE 0 END
         |    AS BIGINT) AS keep
         |FROM cdot d JOIN simg s ON s.k = d.k CROSS JOIN ctot t
         |ORDER BY s.image_id""".stripMargin,

    // rasterize ground truth: bbox cells via generate_series (integer
    // floor-div bounds), center-in-L-ring via the exact 2-rect
    // decomposition (same half-open edges the zonal oracle pins),
    // MAX(fid) overlay, per-fid census
    "q_rasterize" ->
      s"""WITH $P,
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
         |FROM rwin GROUP BY fid ORDER BY fid""".stripMargin,

    // ε-filter ground truth: 9-offset self-join with the |Δz| ≤ t
    // range gate; center always joins itself so COUNT ≥ 1
    "q_epsilon_filter" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |eo(dx, dy) AS (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(0,0),
         |  (1,0),(-1,1),(0,1),(1,1)),
         |ef AS (SELECT c.k, c.x, c.y, c.z,
         |         SUM(n.z) AS s, COUNT(*) AS cnt
         |       FROM demp c JOIN eo o ON TRUE
         |       JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |         AND n.y = c.y + o.dy
         |       WHERE ABS(n.z - c.z) <= 200
         |       GROUP BY 1, 2, 3, 4),
         |ego AS (SELECT k, x, y, z, s//cnt AS o FROM ef)
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(o) AS BIGINT) AS out_sum,
         |  CAST(SUM(CASE WHEN o <> z THEN 1 ELSE 0 END) AS BIGINT)
         |    AS changed,
         |  CAST(MAX(ABS(o - z)) AS BIGINT) AS max_dev
         |FROM ego g JOIN simg s ON s.k = g.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // blur-filter ground truth: Laplacian via four demp self-joins
    // on the neighbor coordinates, exact scaled variance
    "q_blur_filter" ->
      s"""WITH $I, $SimgCte, $DemCte,
         |blap AS (SELECT c.k, c.image_id,
         |    4*c.z - l.z - r.z - u.z - d.z AS lv
         |  FROM demp c
         |  JOIN demp l ON l.k = c.k AND l.x = c.x-1 AND l.y = c.y
         |  JOIN demp r ON r.k = c.k AND r.x = c.x+1 AND r.y = c.y
         |  JOIN demp u ON u.k = c.k AND u.x = c.x AND u.y = c.y-1
         |  JOIN demp d ON d.k = c.k AND d.x = c.x AND d.y = c.y+1
         |  WHERE c.x BETWEEN 1 AND c.w-2 AND c.y BETWEEN 1 AND c.h-2),
         |bag AS (SELECT k, image_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_int,
         |    CAST(SUM(lv) AS BIGINT) AS lap_sum,
         |    CAST(SUM(lv*lv) AS BIGINT) AS lap_sq_sum
         |  FROM blap GROUP BY 1, 2)
         |SELECT image_id, n_int, lap_sum, lap_sq_sum,
         |  CAST(n_int*lap_sq_sum - lap_sum*lap_sum AS BIGINT) AS score,
         |  CAST(CASE WHEN n_int*lap_sq_sum - lap_sum*lap_sum
         |       > 1600000*n_int*n_int THEN 1 ELSE 0 END AS BIGINT) AS sharp
         |FROM bag ORDER BY image_id""".stripMargin,

    // bigram-DF coverage ground truth: same list_transform bigram
    // builder as q_ngrams, DF via COUNT(DISTINCT doc_id), floor-div
    // quantized coverage
    "q_lm_coverage" ->
      s"""WITH $TokCte,
         |lmg AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 THEN
         |          list_transform(generate_series(1,
         |            CAST(len(ts)-1 AS INT)),
         |            i -> ts[i] ${Pipe}${Pipe} ' ' ${Pipe}${Pipe} ts[i+1])
         |        ELSE CAST([] AS VARCHAR[]) END) AS gram FROM tok),
         |lmd AS (SELECT gram, COUNT(DISTINCT doc_id) AS df
         |        FROM lmg GROUP BY 1),
         |lmj AS (SELECT g.doc_id,
         |          CASE WHEN d.df >= 2 THEN 1 ELSE 0 END AS att
         |        FROM lmg g JOIN lmd d ON d.gram = g.gram)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(att) AS BIGINT) AS n_attested,
         |  CAST((SUM(att) * 1048576) // COUNT(*) AS BIGINT) AS cov_q
         |FROM lmj GROUP BY 1 ORDER BY 1""".stripMargin,

    // tile near-dup ground truth: per-patch first-valid value via
    // struct MIN on the local index, brightness-cancelled signature
    // swl − v0·sl, corpus-wide group census
    "q_tile_neardup" ->
      s"""WITH $I, $B, $SimgCte, $PxCte,
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
         |ORDER BY 1, 2""".stripMargin,

    // recall@10 ground truth: the two existing ANN oracles embedded
    // verbatim as CTE bodies, joined on (qid, vec_id)
    "q_ann_recall" ->
      s"""WITH abr AS ($CosineTopkOracleSql),
         |aiv AS ($IvfOracleSql)
         |SELECT abr.qid, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(aiv.vec_id) AS BIGINT) AS n_common,
         |  CAST((COUNT(aiv.vec_id) * 1048576) // COUNT(*) AS BIGINT)
         |    AS recall_q
         |FROM abr LEFT JOIN aiv ON aiv.qid = abr.qid
         |  AND aiv.vec_id = abr.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bounded-hop SSSP ground truth: brute proximity pairs (strict
    // padded-rect overlap, the pagerank edge fixture) + centroid-
    // Manhattan weights + self-loops, relaxed 6 recursive rounds
    "q_sssp" ->
      s"""WITH RECURSIVE $I,
         |sg0 AS (SELECT a.k AS ka, b.k AS kb,
         |          ABS((a.x0m+a.x1m) - (b.x0m+b.x1m))
         |            + ABS((a.y0m+a.y1m) - (b.y0m+b.y1m)) AS w
         |        FROM img2 a JOIN img2 b ON b.k > a.k
         |          AND a.x0m - 3000 < b.x1m + 3000
         |          AND b.x0m - 3000 < a.x1m + 3000
         |          AND a.y0m - 3000 < b.y1m + 3000
         |          AND b.y0m - 3000 < a.y1m + 3000),
         |sge AS (SELECT ka AS src, kb AS dst, w FROM sg0
         |        UNION ALL SELECT kb, ka, w FROM sg0
         |        UNION ALL SELECT k, k, CAST(0 AS BIGINT) FROM img2),
         |sgf(v, dist, it) AS (
         |  SELECT k, CAST(0 AS BIGINT), 0 FROM img2 WHERE k % 31 = 0
         |  UNION ALL
         |  SELECT u.v, u.dist, u.it + 1 FROM (
         |    SELECT e.dst AS v, MIN(t.dist + e.w) AS dist,
         |      MAX(t.it) AS it
         |    FROM sgf t JOIN sge e ON e.src = t.v
         |    GROUP BY 1) u
         |  WHERE u.it < 6)
         |SELECT v, CAST(dist AS BIGINT) AS dist FROM sgf
         |WHERE it = 6 ORDER BY v""".stripMargin
  )

  /** SQL mirror of [[synthBoxes]]: CTEs `${name}0`, `${name}1`,
    * `$name`(k, image_id, box_id, x1, y1, x2, y2, score). */
  private def boxCteSql(name: String, n: Int, salt: String): String =
    s"""${name}0 AS (SELECT k, image_id, CAST(sl.i AS BIGINT) AS box_id,
       |    md5(image_id ${Pipe}${Pipe} ':$salt' ${Pipe}${Pipe}
       |        CAST(sl.i AS VARCHAR)) AS hm
       |  FROM img2 CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${n - 1})) AS i) sl
       |  WHERE k < 400),
       |${name}1 AS (SELECT k, image_id, box_id,
       |    CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
       |      + ${hx("hm", 3)} AS BIGINT) AS x1,
       |    CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
       |      + ${hx("hm", 6)} AS BIGINT) AS y1,
       |    CAST(256 + ${hx("hm", 7)}*256 + ${hx("hm", 8)}*16
       |      + ${hx("hm", 9)} AS BIGINT) AS bw,
       |    CAST(256 + ${hx("hm", 10)}*256 + ${hx("hm", 11)}*16
       |      + ${hx("hm", 12)} AS BIGINT) AS bh,
       |    CAST(${hx("hm", 13)}*256 + ${hx("hm", 14)}*16
       |      + ${hx("hm", 15)} AS BIGINT) AS score
       |  FROM ${name}0),
       |$name AS (SELECT k, image_id, box_id, x1, y1, x1+bw AS x2,
       |    y1+bh AS y2, score FROM ${name}1)""".stripMargin

  private def nmsOracleSql: String =
    s"""WITH RECURSIVE $I,
       |${boxCteSql("nbx", 12, "")},
       |nrk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY k
       |          ORDER BY score DESC, box_id) - 1 AS BIGINT) AS rk
       |        FROM nbx),
       |npr AS (SELECT a.k, a.rk AS ra, b.rk AS rb,
       |          GREATEST(0, LEAST(a.x2, b.x2) - GREATEST(a.x1, b.x1)) *
       |          GREATEST(0, LEAST(a.y2, b.y2) - GREATEST(a.y1, b.y1))
       |            AS inter,
       |          (a.x2-a.x1)*(a.y2-a.y1) + (b.x2-b.x1)*(b.y2-b.y1) AS ar2
       |        FROM nrk a JOIN nrk b ON b.k = a.k AND b.rk > a.rk),
       |nsup AS (SELECT k, ra AS rk,
       |          SUM(CASE WHEN 2*inter > ar2 - inter
       |              THEN (CAST(1 AS BIGINT) << CAST(rb AS INT))
       |              ELSE 0 END) AS sm
       |        FROM npr GROUP BY 1, 2),
       |nst(k, r, kept, acc) AS (
       |  SELECT k, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT)
       |  FROM (SELECT DISTINCT k FROM nrk)
       |  UNION ALL
       |  SELECT s.k, s.r + 1,
       |    CASE WHEN ((s.acc >> CAST(s.r + 1 AS INT)) & 1) = 0
       |         THEN s.kept ${Pipe} (CAST(1 AS BIGINT)
       |                              << CAST(s.r + 1 AS INT))
       |         ELSE s.kept END,
       |    CASE WHEN ((s.acc >> CAST(s.r + 1 AS INT)) & 1) = 0
       |         THEN s.acc ${Pipe} COALESCE(p.sm, 0) ELSE s.acc END
       |  FROM nst s JOIN nrk r2 ON r2.k = s.k AND r2.rk = s.r + 1
       |  LEFT JOIN nsup p ON p.k = s.k AND p.rk = s.r + 1
       |  WHERE s.r < 11)
       |SELECT b.image_id, b.box_id, b.x1, b.y1, b.x2, b.y2, b.score
       |FROM nst f JOIN nrk b ON b.k = f.k
       |  AND ((f.kept >> CAST(b.rk AS INT)) & 1) = 1
       |WHERE f.r = 11
       |ORDER BY 1, 2""".stripMargin

  private def boxMatchOracleSql: String =
    s"""WITH RECURSIVE $I,
       |${boxCteSql("mpd", 12, "")},
       |${boxCteSql("mgt", 6, "g")},
       |mpp AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY k
       |          ORDER BY score DESC, box_id) - 1 AS BIGINT) AS prk
       |        FROM mpd),
       |mgg AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY k
       |          ORDER BY box_id) - 1 AS BIGINT) AS grk
       |        FROM mgt),
       |mpq AS (SELECT p.k, p.prk, g.grk,
       |          GREATEST(0, LEAST(p.x2, g.x2) - GREATEST(p.x1, g.x1)) *
       |          GREATEST(0, LEAST(p.y2, g.y2) - GREATEST(p.y1, g.y1))
       |            AS inter,
       |          (p.x2-p.x1)*(p.y2-p.y1) + (g.x2-g.x1)*(g.y2-g.y1) AS ar2
       |        FROM mpp p JOIN mgg g ON g.k = p.k),
       |mpq2 AS (SELECT k, prk, grk,
       |          CASE WHEN ar2 - inter <= 0 THEN 0
       |               ELSE (inter * 1048576) // (ar2 - inter) END AS q
       |        FROM mpq),
       |mst(k, p, used, tp, qsum) AS (
       |  SELECT k, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM (SELECT DISTINCT k FROM mpp)
       |  UNION ALL
       |  SELECT u.k, u.p,
       |    CASE WHEN u.best IS NULL THEN u.used
       |         ELSE u.used ${Pipe} (CAST(1 AS BIGINT)
       |                              << CAST(-((u.best).g) AS INT)) END,
       |    CASE WHEN u.best IS NULL THEN u.tp ELSE u.tp + 1 END,
       |    CASE WHEN u.best IS NULL THEN u.qsum
       |         ELSE u.qsum + (u.best).q END
       |  FROM (
       |    SELECT s.k, s.p + 1 AS p, s.used, s.tp, s.qsum,
       |      MAX(CASE WHEN c.q IS NOT NULL
       |          THEN struct_pack(q := c.q, g := -c.grk) END) AS best
       |    FROM mst s
       |    JOIN mpp r ON r.k = s.k AND r.prk = s.p + 1
       |    LEFT JOIN mpq2 c ON c.k = s.k AND c.prk = s.p + 1
       |      AND c.q > 524288
       |      AND ((s.used >> CAST(c.grk AS INT)) & 1) = 0
       |    WHERE s.p < 11
       |    GROUP BY 1, 2, 3, 4, 5
       |  ) u)
       |SELECT b.image_id, CAST(12 AS BIGINT) AS n_pred, f.tp,
       |  CAST(12 - f.tp AS BIGINT) AS fp, CAST(6 - f.tp AS BIGINT) AS fn,
       |  f.qsum AS qiou_sum
       |FROM mst f JOIN (SELECT DISTINCT k, image_id FROM mpp) b
       |  ON b.k = f.k
       |WHERE f.p = 11
       |ORDER BY 1""".stripMargin

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

  private val SimgCte =
    """simg AS (SELECT * FROM img2
      |  WHERE w <= 64 AND h <= 64 AND k % 6 IN (1, 2))""".stripMargin

  // ---- audio oracle building blocks (mirror graft.ops.Audio) ----
  private val Aud = OracleCte.audio
  private val SaudCte = "saud AS (SELECT * FROM aud WHERE k % 3 = 1)"
  private val SaudFrCte = "saud AS (SELECT * FROM aud WHERE k % 12 = 1)"

  /** Overlapped frame energies (len 160, hop 80) from the per-sample
    * replay: fe(audio_id, fr, energy). Requires saud + asamp. */
  private val AudFrameCte =
    """afr AS (
      |  SELECT a.audio_id, f.fr
      |  FROM saud a CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST((a.n - 160)//80 AS INT))) AS fr) f),
      |fe AS (SELECT r.audio_id, r.fr,
      |         CAST(SUM(p.s*p.s) AS BIGINT) AS energy
      |       FROM afr r JOIN asamp p ON p.audio_id = r.audio_id
      |         AND p.i >= r.fr*80 AND p.i < r.fr*80 + 160
      |       GROUP BY 1, 2)""".stripMargin

  /** Subset + constructed noisy twins (k % 40 = 0), with the `tw`
    * flag audioGenTw needs. */
  private val SaudTwCte =
    """saud AS (SELECT *, FALSE AS tw FROM aud WHERE k % 3 = 1
      |         UNION ALL
      |         SELECT k, audio_id || '-tw', sr, n, lead, tail, f, m,
      |                speaker, lang, TRUE
      |         FROM aud WHERE k % 3 = 1 AND k % 40 = 0)""".stripMargin

  /** Autocorrelation over the fixed lag set → one best (lag, r) per
    * clip: apt(audio_id, best_lag, r_best). Requires saud + asamp. */
  private val AudPitchCte =
    s"""alags AS (SELECT unnest([${graft.ops.Audio.PitchLags.mkString(",")}])
       |            AS tau),
       |aac AS (SELECT c.audio_id, l.tau,
       |          COALESCE(SUM(p1.s * p2.s), 0) AS r
       |        FROM saud c CROSS JOIN alags l
       |        LEFT JOIN asamp p1 ON p1.audio_id = c.audio_id
       |        LEFT JOIN asamp p2 ON p2.audio_id = p1.audio_id
       |          AND p2.i = p1.i + l.tau
       |        GROUP BY 1, 2),
       |apt AS (SELECT audio_id, CAST(tau AS BIGINT) AS best_lag,
       |          CAST(r AS BIGINT) AS r_best
       |        FROM (SELECT audio_id, tau, r,
       |                ROW_NUMBER() OVER (PARTITION BY audio_id
       |                  ORDER BY r DESC, tau) AS rnk FROM aac)
       |        WHERE rnk = 1)""".stripMargin

  /** Span-energy-delta fingerprint (63 spans → 62 delta bits, packed
    * positive): afp(audio_id, fp). Requires asamp. */
  private val AudFpCte =
    """asp AS (SELECT audio_id, (i*63)//n AS sp, SUM(s*s) AS e
      |        FROM asamp GROUP BY 1, 2),
      |aspd AS (SELECT audio_id, sp, e,
      |           LAG(e) OVER (PARTITION BY audio_id ORDER BY sp) AS pe
      |         FROM asp),
      |afp AS (SELECT audio_id,
      |          CAST(COALESCE(SUM(CASE WHEN pe IS NOT NULL AND e > pe
      |            THEN (CAST(1 AS BIGINT) << CAST(sp-1 AS INT))
      |            ELSE 0 END), 0) AS BIGINT) AS fp
      |        FROM aspd GROUP BY 1)""".stripMargin

  /** Brute-force cosine top-10 ground truth — shared verbatim by
    * q_ann_cosine_topk and (as the truth side) q_ann_recall. */
  private val CosineTopkOracleSql =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 3),
      |c AS (SELECT q.qid, e.vec_id,
      |        list_dot_product(q.qe, e.embedding::DOUBLE[]) /
      |        (sqrt(list_dot_product(q.qe, q.qe)) *
      |         sqrt(list_dot_product(e.embedding::DOUBLE[],
      |                               e.embedding::DOUBLE[]))) AS sim
      |      FROM q, embeddings e WHERE e.vec_id != q.qid),
      |r AS (SELECT qid, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY sim DESC, vec_id) AS rank FROM c)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM r
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** IVF ANN ground truth — shared verbatim by q_ann_ivf_topk (direct
    * path) and q_ann_index (persisted-index probe): the index is a
    * materialization, so both paths must return identical rows. */
  private val IvfOracleSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
      |cents AS (SELECT vec_id AS cid, ed AS ce FROM e WHERE vec_id < 16),
      |asg AS (SELECT e.vec_id, e.ed, c.cid,
      |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |            list_dot_product(e.ed, c.ce) /
      |            (sqrt(list_dot_product(e.ed, e.ed)) *
      |             sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
      |        FROM e CROSS JOIN cents c),
      |cells AS (SELECT vec_id, ed, cid FROM asg WHERE rk = 1),
      |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id < 3),
      |pr AS (SELECT q.qid, q.qe, c.cid,
      |         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |           list_dot_product(q.qe, c.ce) /
      |           (sqrt(list_dot_product(q.qe, q.qe)) *
      |            sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
      |       FROM q CROSS JOIN cents c),
      |probes AS (SELECT qid, qe, cid FROM pr WHERE rk <= 4),
      |cand AS (SELECT p.qid, v.vec_id,
      |           list_dot_product(p.qe, v.ed) /
      |           (sqrt(list_dot_product(p.qe, p.qe)) *
      |            sqrt(list_dot_product(v.ed, v.ed))) AS sim
      |         FROM cells v JOIN probes p ON p.cid = v.cid
      |         WHERE v.vec_id != p.qid),
      |r AS (SELECT qid, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY sim DESC, vec_id) AS rank FROM cand)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM r
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** SQL mirror of Synth.demValue over the small-image grid (requires
    * simg): demp(k, image_id, w, h, x, y, z) — quadratic-mod DEM,
    * full-valid, all BIGINT. */
  private val DemCte =
    """demp AS (
      |  SELECT s.k, s.image_id, s.w, s.h, xs.x, ys.y,
      |    100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
      |         + (s.k%3+1)*xs.x*ys.y
      |         + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900 AS z
      |  FROM simg s
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys)""".stripMargin

  /** D8 neighbor table (requires nothing): d8(code, dx, dy) in the
    * Terrain.Dx/Dy order — E,SE,S,SW,W,NW,N,NE. */
  private val D8Cte =
    """d8 AS (SELECT * FROM (VALUES (0,1,0),(1,1,1),(2,0,1),(3,-1,1),
      |  (4,-1,0),(5,-1,-1),(6,0,-1),(7,1,-1)) AS t(code, dx, dy))""".stripMargin

  /** SQL mirror of Codec.aHash over the px pixel grid (requires simg +
    * px): 8×8 block partition x0=(bx·w)//8, x1=((bx+1)·w)//8 (exact for
    * w,h ≥ 16, which simg guarantees), 2^-20-quantized block means,
    * bit ⇔ 64·q > Σq; bit 63 = block (0,0) via the two's-complement
    * min literal. Produces phi(image_id, phash). */
  private val PhashCte =
    """blocks AS (SELECT unnest(generate_series(0, 7)) AS bi),
      |blk AS (SELECT s.k, byb.bi AS byi, bxb.bi AS bxi,
      |          (bxb.bi*s.w)//8 AS bx0, ((bxb.bi+1)*s.w)//8 AS bx1,
      |          (byb.bi*s.h)//8 AS by0, ((byb.bi+1)*s.h)//8 AS by1
      |        FROM simg s CROSS JOIN blocks bxb CROSS JOIN blocks byb),
      |bm AS (SELECT b.k, b.byi, b.bxi,
      |         COUNT(p.v) AS n, COALESCE(SUM(p.v), 0) AS sv
      |       FROM blk b LEFT JOIN px p ON p.k = b.k AND p.b = 0
      |         AND p.x >= b.bx0 AND p.x < b.bx1
      |         AND p.y >= b.by0 AND p.y < b.by1
      |       GROUP BY 1, 2, 3),
      |bq AS (SELECT k, byi, bxi,
      |         CASE WHEN n = 0 THEN 0
      |              ELSE CAST(FLOOR(CAST(sv AS DOUBLE)/n*1048576.0) AS BIGINT)
      |         END AS mq
      |       FROM bm),
      |bt AS (SELECT k, SUM(mq) AS tot FROM bq GROUP BY k),
      |ph AS (SELECT q.k, CAST(SUM(
      |         CASE WHEN 64*q.mq > t.tot THEN
      |           CASE WHEN q.byi = 0 AND q.bxi = 0
      |                THEN -9223372036854775807 - 1
      |                ELSE (CAST(1 AS BIGINT) << CAST(63 - (q.byi*8 + q.bxi) AS INT))
      |           END
      |         ELSE 0 END) AS BIGINT) AS phash
      |       FROM bq q JOIN bt t ON t.k = q.k GROUP BY q.k),
      |phi AS (SELECT s.image_id, p.phash FROM ph p JOIN simg s ON s.k = p.k)""".stripMargin

  /** dHash ground truth: the 8-row × 9-col block-sum grid over band
    * 0 valid pixels, bit (r,c) ⇔ sv(r,c+1)·n(r,c) > sv(r,c)·n(r,c+1),
    * packed MSB-first (bit 63 = the Long sign bit → the −2⁶³ branch,
    * as in PhashCte). Requires $I, $B, $SimgCte, $PxCte. */
  private val DhashCte =
    """dcell AS (SELECT s.k, ry.r, cx.c,
      |    (cx.c*s.w)//9 AS x0, ((cx.c+1)*s.w)//9 AS x1,
      |    (ry.r*s.h)//8 AS y0, ((ry.r+1)*s.h)//8 AS y1
      |  FROM simg s
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS r) ry
      |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS c) cx),
      |dsum AS (SELECT d.k, d.r, d.c,
      |    COUNT(p.v) AS n, COALESCE(SUM(p.v), 0) AS sv
      |  FROM dcell d LEFT JOIN px p ON p.k = d.k AND p.b = 0
      |    AND p.x >= d.x0 AND p.x < d.x1
      |    AND p.y >= d.y0 AND p.y < d.y1
      |  GROUP BY 1, 2, 3),
      |dbit AS (SELECT l.k, l.r, l.c,
      |    CASE WHEN rr.sv*l.n > l.sv*rr.n THEN 1 ELSE 0 END AS bit
      |  FROM dsum l JOIN dsum rr ON rr.k = l.k AND rr.r = l.r
      |    AND rr.c = l.c + 1
      |  WHERE l.c < 8),
      |dhh AS (SELECT k, CAST(SUM(CASE WHEN bit = 1 THEN
      |      CASE WHEN r = 0 AND c = 0 THEN -9223372036854775807 - 1
      |           ELSE (CAST(1 AS BIGINT) << CAST(63 - (r*8 + c) AS INT))
      |      END ELSE 0 END) AS BIGINT) AS dhash
      |  FROM dbit GROUP BY k),
      |dhi AS (SELECT s.image_id, d.dhash
      |  FROM dhh d JOIN simg s ON s.k = d.k)""".stripMargin

  private val PxCte = OracleCte.pixelGen

  /** Pivot the pixel rows into one row per (k,x,y) with all 6 band
    * values as DOUBLEs named (b,g,r,n,s1,s2). */
  private val PxdCte =
    """pxw AS (SELECT k, x, y,
      |  MAX(CASE WHEN b=0 THEN v END) AS vb0,
      |  MAX(CASE WHEN b=1 THEN v END) AS vb1,
      |  MAX(CASE WHEN b=2 THEN v END) AS vb2,
      |  MAX(CASE WHEN b=3 THEN v END) AS vb3,
      |  MAX(CASE WHEN b=4 THEN v END) AS vb4,
      |  MAX(CASE WHEN b=5 THEN v END) AS vb5
      |  FROM px GROUP BY k, x, y),
      |pxd AS (SELECT k, CAST(vb0 AS DOUBLE) AS b, CAST(vb1 AS DOUBLE) AS g,
      |  CAST(vb2 AS DOUBLE) AS r, CAST(vb3 AS DOUBLE) AS n,
      |  CAST(vb4 AS DOUBLE) AS s1, CAST(vb5 AS DOUBLE) AS s2 FROM pxw)""".stripMargin

  /** UNION-ALL oracle for all 15 spectral indices over the pixel grid. */
  private def indicesOracleSql: String = {
    val defs: Map[String, (String, Option[String])] = Map(
      "ndvi"   -> ("(n-r)/(n+r)", None),
      "evi"    -> ("2.5*(n-r)/(n+6*r-7.5*b+1)", Some("n+6*r-7.5*b+1 <> 0")),
      "lswi"   -> ("(n-s1)/(n+s1)", None),
      "ndsi"   -> ("(g-s1)/(g+s1)", None),
      "ndwi"   -> ("(g-n)/(g+n)", None),
      "bi"     -> ("0.5*(b+n)", None),
      "satvi"  -> ("1.5*(s1-r)/(s1+r+0.5) - 0.5*s2", None),
      "msavi2" -> ("(2*n+1 - sqrt((2*n+1)*(2*n+1) - 8*(n-r))) * 0.5", None),
      "vari"   -> ("(g-r)/(g+r-b)", Some("g+r-b <> 0")),
      "brgt"   -> ("0.3*b + 0.3*r + 0.1*n + 0.3*g", None),
      "ndti"   -> ("(s1-s2)/(s1+s2)", None),
      "crc"    -> ("(s1-b)/(s2+b)", None),
      "crcm"   -> ("(s1-g)/(s2+g)", None),
      "isti"   -> ("s2/s1", None),
      "sti"    -> ("s1/s2", None))
    val branches = Indices.All.map { prod =>
      val (e, cond) = defs(prod)
      s"SELECT k, '$prod' AS product, CAST(COUNT(*) AS BIGINT) AS n_valid, " +
        s"CAST(SUM(CAST(FLOOR(($e)*1e6) AS BIGINT)) AS BIGINT) AS fsum " +
        s"FROM pxd ${cond.map(c => s"WHERE $c ").getOrElse("")}GROUP BY k"
    }.mkString(" UNION ALL ")
    s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
       |u AS ($branches)
       |SELECT i.image_id, u.product, u.n_valid, u.fsum
       |FROM u JOIN img2 i ON i.k = u.k
       |ORDER BY image_id, product""".stripMargin
  }

  /** Peel-round cap shared by the q_kcore gate and its oracle mirror:
    * the Spark peel early-exits at the fixpoint; the oracle unrolls
    * exactly this many survivor CTEs, so results agree whenever the
    * fixture converges within the cap (asserted in GraphSpec). */
  private val KCoreRounds = 12

  /** Chained k-core survivor CTEs ks1..ksR: survivors of round r are
    * the nodes whose degree within round r−1's survivors is ≥ k —
    * the same synchronous peel KCore.kcore runs, unrolled. */
  private def kcorePeelSql(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      // MATERIALIZED: each round references the previous one TWICE —
      // DuckDB inlines plain CTEs, so without it the scan tree
      // doubles per round (2^rounds source scans; fd exhaustion)
      s"ks$r AS MATERIALIZED (SELECT e.src FROM kce e " +
        s"JOIN ks${r - 1} a ON a.src = e.src " +
        s"JOIN ks${r - 1} b ON b.src = e.dst " +
        s"GROUP BY e.src HAVING COUNT(*) >= $k)"
    }.mkString(",\n")

  /** Synchronous label-propagation rounds shared by the q_label_prop
    * gate and its oracle mirror (fixed rounds — the deterministic
    * distributed LPA variant; see [[graft.graph.LabelProp]]). */
  private val LabelPropRounds = 3

  /** Chained label-propagation CTEs lp1..lpR from lp0(v, lab) over
    * directed edges lpe(src, dst): per round, each node adopts the
    * most frequent neighbor label, ties → smallest label. */
  private def labelPropRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"lpv$r AS (SELECT e.dst AS v, l.lab, COUNT(*) AS c " +
        s"FROM lpe e JOIN lp${r - 1} l ON l.v = e.src GROUP BY 1, 2),\n" +
        s"lp$r AS MATERIALIZED (SELECT v, lab FROM (SELECT v, lab, " +
        s"ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rk " +
        s"FROM lpv$r) WHERE rk = 1)"
    }.mkString(",\n")

  private val TokCte =
    """tok AS (SELECT doc_id, lang, n_chars, text,
      |  string_split(text, ' ') AS ts FROM documents)""".stripMargin

  /** '|' as an interpolation value: oracle lines must never BEGIN with
    * a literal pipe (stripMargin is applied twice — see the verify
    * skill notes), so pipe-heavy expressions interpolate this. */
  private val Pipe = "|"

  /** SQL for the value of the `pos`-th (1-based) hex digit of a
    * lowercase md5 column — the DuckDB mirror of Cms.hexVal. */
  private def hx(c: String, pos: Int): String =
    s"(CASE WHEN ascii(substr($c, $pos, 1)) <= 57 " +
      s"THEN ascii(substr($c, $pos, 1)) - 48 " +
      s"ELSE ascii(substr($c, $pos, 1)) - 87 END)"

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

  /** Reference "eval passage" for the ROUGE-L gate — 8 tokens drawn
    * from the synth documents' vocabulary so the LCS is non-trivial. */
  private val RougeRef =
    Seq("table", "value", "fast", "scan", "row", "agg", "key", "part")

  /** Shared track fixture for the DTW-family gates: each user's
    * first 24 events in (ts, event_id) order, with 12-bit md5-derived
    * integer coordinates (px, py) per point. */
  private def dtwTrackPts(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .where(col("user_id") < 30)
    val hm = md5(col("event_id").cast("string"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    import graft.sketch.Cms.hexVal
    ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("idx", row_number().over(win).cast("long") - 1)
      .where(col("idx") < 24)
      .withColumn("px", (hexVal(hm, 1) * 256 + hexVal(hm, 2) * 16 +
        hexVal(hm, 3)).cast("long"))
      .withColumn("py", (hexVal(hm, 4) * 256 + hexVal(hm, 5) * 16 +
        hexVal(hm, 6)).cast("long"))
  }

  /** BPE trainer CTE chain, `rounds` unrolled: w0 = word-frequency
    * table with '|'-delimited symbol strings; per round r, p$r = pair
    * counts, m$r = argmax merge (count desc, then lexicographic),
    * w$r = words with the merge applied via plain `replace` (greedy
    * left-to-right non-overlap — the Spark trainer's exact semantics).
    * Generated without margin pipes: no line starts with '|'. */
  private def BpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      // char wrap without regex ('.' differs between Java and RE2 on
      // \r and the U+0085/2028/2029 terminators — see TextOps.bpeWords)
      "w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,\n" +
      "    '|' || array_to_string(list_transform(\n" +
      "      generate_series(1, length(word)), i -> word[i]),\n" +
      "      '||') || '|' AS wstr\n" +
      "  FROM (SELECT unnest(string_split(text, ' ')) AS word\n" +
      "        FROM documents) t\n" +
      "  WHERE length(word) > 0 GROUP BY word)")
    for (r <- 1 to rounds) {
      sb.append(",\n" +
        s"p$r AS (SELECT s.syms[i.i] AS l, s.syms[i.i+1] AS r,\n" +
        s"    SUM(s.cnt) AS c\n" +
        s"  FROM (SELECT cnt, string_split(trim(wstr, '|'), '||')\n" +
        s"          AS syms FROM w${r - 1}) s\n" +
        s"  CROSS JOIN LATERAL (SELECT\n" +
        s"    unnest(generate_series(1, len(s.syms)-1)) AS i) i\n" +
        s"  GROUP BY 1, 2),\n" +
        s"m$r AS (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),\n" +
        // LEFT JOIN ON TRUE, not CROSS JOIN: a round with no pairs
        // (empty m$r) must keep the word table unchanged, mirroring
        // bpeTrain's `if (top.nonEmpty)` skip — a cross join against
        // an empty merge row would wipe every word
        s"w$r AS (SELECT w.word, w.cnt,\n" +
        s"    CASE WHEN m.l IS NULL THEN w.wstr\n" +
        s"         ELSE replace(w.wstr, '|' || m.l || '||' || m.r || '|',\n" +
        s"           '|' || m.l || m.r || '|') END AS wstr\n" +
        s"  FROM w${r - 1} w LEFT JOIN m$r m ON TRUE)")
    }
    sb.toString
  }

  /** SQL mirror of TextOps.md5Bucket: first 4 hex chars of md5(expr)
    * as an integer 0..65535 (the deterministic-selection hash). */
  private def Md5BucketSql(expr: String): String =
    s"""CAST((strpos('0123456789abcdef', substr(md5($expr), 1, 1)) - 1) * 4096
       |   + (strpos('0123456789abcdef', substr(md5($expr), 2, 1)) - 1) * 256
       |   + (strpos('0123456789abcdef', substr(md5($expr), 3, 1)) - 1) * 16
       |   + (strpos('0123456789abcdef', substr(md5($expr), 4, 1)) - 1)
       |  AS BIGINT)""".stripMargin

  /** SQL mirror of TextOps.simhash (requires tok): per token the first
    * 8 md5 bytes vote ±1 per bit (bit b = hex char b//4, nibble bit
    * 3−b%4), simhash bit set iff votes > 0 — all-integer, so the
    * 64-bit value is exact cross-engine. Produces sh64(doc_id, simhash). */
  private val SimhashCte =
    """stok AS (SELECT doc_id, unnest(ts) AS t FROM tok),
      |sbit AS (SELECT doc_id, bb.b,
      |  CASE WHEN ((strpos('0123456789abcdef',
      |                     substr(md5(t), bb.b//4 + 1, 1)) - 1)
      |             >> (3 - bb.b % 4)) & 1 = 1
      |       THEN 1 ELSE -1 END AS vote
      |  FROM stok CROSS JOIN
      |    (SELECT unnest(generate_series(0, 63)) AS b) bb),
      |sv AS (SELECT doc_id, b, SUM(vote) AS votes
      |       FROM sbit GROUP BY 1, 2),
      |sh64 AS (SELECT doc_id, CAST(SUM(
      |    CASE WHEN votes > 0 THEN
      |      CASE WHEN b = 0 THEN -9223372036854775807 - 1
      |           ELSE (CAST(1 AS BIGINT) << CAST(63 - b AS INT)) END
      |    ELSE 0 END) AS BIGINT) AS simhash
      |  FROM sv GROUP BY doc_id)""".stripMargin
  private val ShCte =
    """sh AS (SELECT doc_id,
      |  CASE WHEN len(ts) >= 3 THEN
      |    list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
      |  ELSE [text] END AS sh FROM tok)""".stripMargin

  /** The MinHash-LSH near-dup transitive closure (requires tok + sh,
    * WITH RECURSIVE): band candidates → exact-Jaccard edges (≥ 0.01)
    * → `reach` reachability. Shared by q_dedup_clusters and q_curate. */
  private val LshClosureCte =
    """sig AS (SELECT doc_id,
      |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0,
      |  list_min(list_transform(sh, s -> md5('1' || s))) AS h1,
      |  list_min(list_transform(sh, s -> md5('2' || s))) AS h2,
      |  list_min(list_transform(sh, s -> md5('3' || s))) AS h3
      |FROM sh),
      |bands AS (
      |  SELECT doc_id, 0 AS bj, h0 AS bk FROM sig
      |  UNION ALL SELECT doc_id, 1, h1 FROM sig
      |  UNION ALL SELECT doc_id, 2, h2 FROM sig
      |  UNION ALL SELECT doc_id, 3, h3 FROM sig),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.bj = b.bj AND a.bk = b.bk
      |  WHERE a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
      |p AS (SELECT c.id_a, c.id_b,
      |  CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS n_inter,
      |  CAST(len(list_distinct(list_concat(x.shd, y.shd))) AS BIGINT)
      |    AS n_union
      |  FROM cand c JOIN sets x ON x.doc_id = c.id_a
      |  JOIN sets y ON y.doc_id = c.id_b),
      |e AS (SELECT id_a AS u, id_b AS v FROM p
      |        WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
      |      UNION ALL
      |      SELECT id_b, id_a FROM p
      |        WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01),
      |reach AS (
      |  SELECT doc_id AS v, doc_id AS l FROM documents
      |  UNION
      |  SELECT e.v, r.l FROM reach r JOIN e ON e.u = r.v)""".stripMargin
}
