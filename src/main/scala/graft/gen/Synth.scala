package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Codec

/** Deterministic synthesizer of the north-rule input table
  * (image_id, bytes, w, h, fmt, caption, phash — BASELINE.json
  * input_hint) and of the vector polygon layers it joins against.
  *
  * Every attribute is pure INTEGER arithmetic over a key drawn from the
  * driver's TPC-H-ish parquet (`part.p_partkey` for images,
  * `nation.n_nationkey` for polygons), so an independent SQL engine
  * (the driver's DuckDB oracle) reproduces the exact same tables — the
  * SQL mirror of each formula lives in [[OracleCte]]. Coordinates are
  * integer MILLI-DEGREES (mdeg); footprints follow the reference's
  * north-up affine model (/root/reference/GIP/GeoResource.cpp:99-105)
  * with resolution 4 mdeg/pixel.
  *
  * Pixel content of image k, band b (blue,green,red,nir,swir1,swir2):
  *   base = 200 + (k*(b+3)) % 800 ; ax = (k+11b) % 8 ; ay = (k+17b) % 8
  *   v(x,y) = base + ax*x + ay*y            (16-bit / float codecs)
  *   v8(x,y) = 1 + v(x,y) % 255             (8-bit codecs; 0 = nodata)
  *   columns x < nw (nw = k % 5) are nodata  (SLC-gap-style stripe)
  * Linear-ramp content means per-band aggregates have CLOSED FORMS the
  * oracle can state in SQL, while small images can be re-generated
  * pixel-by-pixel with generate_series for pixel-exact oracles.
  */
object Synth {

  val ResM = 4L // mdeg per pixel
  val NumBands = 6
  val BandNames: Seq[String] =
    Seq("blue", "green", "red", "nir", "swir1", "swir2")
  val Formats: Seq[String] =
    Seq("raw-u8", "raw-i16le", "raw-f32le", "png", "bmp", "jpg")

  val Adjs: Seq[String] = Seq("misty", "sunny", "ancient", "quiet", "vast",
    "frozen", "lush", "arid", "stormy", "golden", "shaded", "bright",
    "remote", "coastal", "rugged", "serene")
  val Nouns: Seq[String] = Seq("forest", "river", "mountain", "harbor",
    "desert", "glacier", "valley", "island", "canyon", "meadow", "delta",
    "plateau", "lagoon", "volcano", "steppe", "reef")

  // ---- scalar formulas (shared by generator, kernels and tests) ----
  def wOf(k: Long): Int  = (16 + (k * 13) % 240).toInt
  def hOf(k: Long): Int  = (16 + (k * 29) % 240).toInt
  def nwOf(k: Long): Int = (k % 5).toInt
  def fmtOf(k: Long): String = Formats((k % 6).toInt)
  def x0mOf(k: Long): Long = (k * 7919) % 300000 - 150000
  def y0mOf(k: Long): Long = (k * 104729) % 120000 - 60000
  def baseOf(k: Long, b: Int): Long = 200 + (k * (b + 3)) % 800
  def axOf(k: Long, b: Int): Long   = (k + 11L * b) % 8
  def ayOf(k: Long, b: Int): Long   = (k + 17L * b) % 8

  def is8bit(fmt: String): Boolean =
    fmt == "raw-u8" || fmt == "png" || fmt == "bmp" || fmt == "jpg"

  /** True pixel value (Double; NaN = nodata) of image k band b at (x,y). */
  def pixelValue(k: Long, fmt: String, b: Int, x: Int, y: Int): Double = {
    if (x < nwOf(k)) return Double.NaN
    val v = baseOf(k, b) + axOf(k, b) * x + ayOf(k, b) * y
    if (is8bit(fmt)) (1 + v % 255).toDouble else v.toDouble
  }

  /** Band-major planes of image k (bands stored per codec contract). */
  def planes(k: Long): Array[Array[Double]] = {
    val w = wOf(k); val h = hOf(k); val fmt = fmtOf(k)
    val nb = Codec.bandsStored(fmt, NumBands)
    Array.tabulate(nb) { b =>
      val p = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { p(y * w + x) = pixelValue(k, fmt, b, x, y); x += 1 }
        y += 1
      }
      p
    }
  }

  def encodeImage(k: Long): Array[Byte] =
    Codec.encode(planes(k), wOf(k), hOf(k), fmtOf(k))

  /** Vegetation mask of a stored image's pixels: 1 where NIR (band 3)
    * exceeds red (band 2), else 0; NaN on nodata. */
  def vegMask(bytes: Array[Byte], w: Int, h: Int, fmt: String): Array[Double] = {
    val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, NumBands), fmt)
    Array.tabulate(w * h) { i =>
      val r = c(2)(i); val n = c(3)(i)
      if (r.isNaN || n.isNaN) Double.NaN
      else if (n - r > 0) 1.0 else 0.0
    }
  }

  /** Diagonal-stripe mask of a stored image's pixels: d = NIR − red > 0
    * with d % 5 in {1, 2}; nodata is background. */
  def stripeMask(bytes: Array[Byte], w: Int, h: Int, fmt: String): Array[Boolean] = {
    val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, NumBands), fmt)
    Array.tabulate(w * h) { i =>
      val r = c(2)(i); val n = c(3)(i)
      if (r.isNaN || n.isNaN) false
      else {
        val d = (n - r).toLong
        d > 0 && { val m = d % 5; m == 1 || m == 2 }
      }
    }
  }

  /** Images metadata table derived from `part` — no pixel payload.
    * Columns: k, image_id, w, h, fmt, nw, caption, x0m, y0m, x1m, y1m. */
  def images(spark: SparkSession, sfDir: String): DataFrame = {
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val k = col("p_partkey").cast("long")
    part.select(
      k.as("k"),
      concat(lit("img-"), col("p_partkey").cast("string")).as("image_id"),
      (lit(16) + (k * 13) % 240).cast("long").as("w"),
      (lit(16) + (k * 29) % 240).cast("long").as("h"),
      element_at(array(Formats.map(lit): _*), ((k % 6) + 1).cast("int")).as("fmt"),
      (k % 5).as("nw"),
      concat(lit("a "),
        element_at(array(Adjs.map(lit): _*), ((k % 16) + 1).cast("int")),
        lit(" photo of "),
        element_at(array(Nouns.map(lit): _*), (((k * 7) % 16) + 1).cast("int"))
      ).as("caption"),
      ((k * 7919) % 300000 - 150000).as("x0m"),
      ((k * 104729) % 120000 - 60000).as("y0m")
    ).withColumn("x1m", col("x0m") + col("w") * ResM)
     .withColumn("y1m", col("y0m") + col("h") * ResM)
  }

  /** Covering-cell resolution of the gates' spatial joins
    * (4096 mdeg ≈ 4.1°). */
  val JoinRes = 7

  /** AR-bucket lattice for q_ar_buckets (square, 4:3 pair, 16:9 pair,
    * 3:2 pair, 2:1 pair — the usual multimodal-training ratio set). */
  val ArLattice = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16),
    (3, 2), (2, 3), (2, 1), (1, 2))

  /** Pixel-exact query class: small (≤64×64) images in exact codecs
    * (the oracle's `simg`, [[OracleCte.SimgCte]]). */
  val smallRaw: DataFrame => DataFrame =
    _.where(col("w") <= 64 && col("h") <= 64 &&
            (col("k") % 6 === 1 || col("k") % 6 === 2))

  /** The driver's tables that gates read as they are. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  /** Hex digit `pos` (1-based) of md5(event_id) as a long: the events'
    * deterministic coordinate source (the oracle side is
    * [[OracleCte.hx]] over `md5(CAST(event_id AS VARCHAR))`). */
  def eventHex(pos: Int): Column =
    graft.sketch.Cms.hexVal(md5(col("event_id").cast("string")), pos)
      .cast("long")

  /** The event point: 12-bit integer coordinates from hex digits 1–3
    * (px) and 4–6 (py). */
  def eventPx: Column = eventHex(1) * 256 + eventHex(2) * 16 + eventHex(3)
  def eventPy: Column = eventHex(4) * 256 + eventHex(5) * 16 + eventHex(6)

  /** Events of the users below `users`, with their points (px, py). */
  def eventPoints(spark: SparkSession, sfDir: String, users: Int): DataFrame =
    events(spark, sfDir).where(col("user_id") < users)
      .withColumn("px", eventPx).withColumn("py", eventPy)

  /** Per-user event tracks: (user_id, ts, event_id, idx, px, py) with
    * idx the 0-based rank in (ts, event_id) order, per user or, with
    * `perDay`, per (user, UTC day) with the `day` column kept. */
  def eventTracks(spark: SparkSession, sfDir: String, users: Int,
                  perDay: Boolean = false): DataFrame = {
    val ev = events(spark, sfDir).where(col("user_id") < users)
      .select(col("user_id"), col("ts"), col("event_id"))
    val (base, keys) =
      if (!perDay) (ev, Seq(col("user_id")))
      else (ev.withColumn("day",
          floor(unix_timestamp(col("ts")) / 86400).cast("long")),
        Seq(col("user_id"), col("day")))
    val win = Window.partitionBy(keys: _*).orderBy(col("ts"), col("event_id"))
    base.withColumn("idx", row_number().over(win).cast("long") - 1)
      .withColumn("px", eventPx).withColumn("py", eventPy)
  }

  /** Tracks collected per user: (user_id, pts), pts the (idx, px, py)
    * list. */
  def trackLists(tracks: DataFrame): DataFrame =
    tracks.groupBy("user_id")
      .agg(collect_list(struct(col("idx"), col("px"), col("py"))).as("pts"))

  /** Images WITH encoded payload + phash (the full input_hint schema).
    * `keyFilter` prunes BEFORE the encode kernel runs (column-pruned,
    * filter-pushed scan; the encode is per-row, no shuffle). */
  def imagesWithBytes(spark: SparkSession, sfDir: String,
                      keyFilter: DataFrame => DataFrame = identity,
                      spread: Boolean = false): DataFrame = {
    val enc = udf((k: Long) => encodeImage(k))
    val ph  = udf((k: Long) => {
      val pl = planes(k)
      Codec.aHash(pl(0), wOf(k), hOf(k))
    })
    // spread=true: distribute the metadata rows across cores BEFORE
    // payload synthesis — the backing parquet is one tiny file = one
    // scan task, so a thousands-of-images consumer otherwise runs its
    // encode/decode kernels single-threaded (guide §2.5 input skew;
    // measured 8.6s -> 1.0s on q_channel_norm). Opt-in because the
    // extra exchange costs the ~30 tiny (17-image) gates ~0.1-0.2s
    // each for nothing — only the corpus-wide consumers flip it.
    val base = keyFilter(images(spark, sfDir))
    val spreadBase =
      if (spread) base.repartition(spark.sparkContext.defaultParallelism)
      else base
    spreadBase
      .withColumn("bytes", enc(col("k")))
      .withColumn("phash", ph(col("k")))
  }

  /** Independent single-band LWIR (thermal) file per image — the
    * reference's multi-file model where the thermal band ships as its
    * own GeoTIFF and is band-stacked onto the reflectance image
    * (/root/reference/GIP/GeoImage.h:60-74 multi-file ctor). Same
    * w/h/nodata stripe as image k; pixel formula is the natural band
    * b = 6 extension of [[pixelValue]] (base 200+(k·9)%800, ax/ay
    * (k+66)%8/(k+102)%8) so the DuckDB oracle states it with the same
    * parameterized CTE. Always raw-i16le: values ≤ 4345 are exact, and
    * DN/40 − 10 °C spans the cascades' 22/27 °C decision points.
    * Columns: k, image_id, w, h, lwir_bytes. */
  def lwirImages(spark: SparkSession, sfDir: String,
                 keyFilter: DataFrame => DataFrame = identity): DataFrame = {
    val enc = udf((k: Long) => {
      val w = wOf(k); val h = hOf(k)
      val p = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { p(y * w + x) = pixelValue(k, "raw-i16le", 6, x, y); x += 1 }
        y += 1
      }
      Codec.encode(Array(p), w, h, "raw-i16le")
    })
    keyFilter(images(spark, sfDir))
      .select(col("k"), col("image_id"), col("w"), col("h"))
      .withColumn("lwir_bytes", enc(col("k")))
  }

  // ---- DEM (terrain) band: the linear reflectance ramps have a
  // CONSTANT gradient, so slope/flow on them is degenerate. The DEM is
  // an independent single-band file per image (the lwir multi-file
  // pattern) with a QUADRATIC-mod surface — nonlinear, full-valid (no
  // nodata stripe: terrain rasters model ground, not SLC gaps), still
  // pure integer arithmetic the oracle replays with generate_series.
  def demValue(k: Long, x: Int, y: Int): Long =
    100 + ((k % 7 + 1) * x * x + (k % 5 + 1) * y * y +
      (k % 3 + 1) * x * y + ((k * 3) % 11) * x + ((k * 7) % 13) * y) % 1900

  /** Per-epoch trend surface: dem + t·g + curvature term, where
    * g = (x+y+k)%7 − 3 gives rising AND falling cells and the
    * (t²·(x+1)·(k%11+1))%5 term keeps the OLS numerator from
    * collapsing to a closed form. Range [91, 2012] — i16-exact. */
  def trendValue(k: Long, t: Int, x: Int, y: Int): Long =
    demValue(k, x, y) + t * ((x + y + k) % 7 - 3) +
      (t.toLong * t * (x + 1) * (k % 11 + 1)) % 5

  /** Independent single-band DEM file per image (columns: k, image_id,
    * w, h, dem_bytes; raw-i16le, values [100, 1999]). */
  def demImages(spark: SparkSession, sfDir: String,
                keyFilter: DataFrame => DataFrame = identity): DataFrame = {
    val enc = udf((k: Long) => {
      val w = wOf(k); val h = hOf(k)
      val p = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { p(y * w + x) = demValue(k, x, y).toDouble; x += 1 }
        y += 1
      }
      Codec.encode(Array(p), w, h, "raw-i16le")
    })
    // NO repartition here (unlike imagesWithBytes): every demImages
    // gate filters to the tiny smallRaw set and runs per-image
    // kernels in the scan's own tasks, so an explicit round-robin
    // exchange (not AQE-coalescible) would only add a shuffle stage
    keyFilter(images(spark, sfDir))
      .select(col("k"), col("image_id"), col("w"), col("h"))
      .withColumn("dem_bytes", enc(col("k")))
  }

  /** T-epoch DEM stack (k, image_id, w, h, t, bytes) — one payload row
    * per epoch, the raster time-series input for trend analysis. */
  def demEpochImages(spark: SparkSession, sfDir: String, epochs: Int,
                     keyFilter: DataFrame => DataFrame = identity): DataFrame = {
    val enc = udf((k: Long, t: Int) => {
      val w = wOf(k); val h = hOf(k)
      val p = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { p(y * w + x) = trendValue(k, t, x, y).toDouble; x += 1 }
        y += 1
      }
      Codec.encode(Array(p), w, h, "raw-i16le")
    })
    keyFilter(images(spark, sfDir))
      .select(col("k"), col("image_id"), col("w"), col("h"))
      .withColumn("t", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("bytes", enc(col("k"), col("t")))
  }

  /** The small-image DEM epochs collected per image: (k, image_id, w,
    * h, eps) with eps the (t, bytes) list of the epochs in `keep`, or of
    * all `epochs` when `keep` is empty. */
  def demEpochStacks(spark: SparkSession, sfDir: String, epochs: Int,
                     keep: Seq[Int] = Nil): DataFrame = {
    val ep = demEpochImages(spark, sfDir, epochs, smallRaw)
    (if (keep.isEmpty) ep else ep.where(col("t").isin(keep: _*)))
      .groupBy("k", "image_id", "w", "h")
      .agg(collect_list(struct(col("t").cast("int").as("t"),
        col("bytes"))).as("eps"))
  }

  /** Polygon layer derived from `nation`: axis-aligned AOI rectangles in
    * mdeg (the oracle-checkable layer; convex/concave test layers live
    * in the ScalaTest fixtures). Schema mirrors the reference's feature
    * model (/root/reference/GIP/gip/GeoFeature.h:36-173). */
  def polygons(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val j = col("n_nationkey").cast("long")
    nation.select(
      j.as("fid"),
      lit("aoi").as("layer"),
      ((j * 51237 + 7919) % 280000 - 150000).as("px0m"),
      ((j * 26543 + 104729) % 100000 - 55000).as("py0m"),
      (lit(4000) + (j * 3571) % 28000).as("pwm"),
      (lit(3000) + (j * 2713) % 20000).as("phm"),
      col("n_name").as("name")
    ).withColumn("px1m", col("px0m") + col("pwm"))
     .withColumn("py1m", col("py0m") + col("phm"))
     .withColumn("geom_wkt",
       concat(lit("POLYGON (("),
         col("px0m") / 1000.0, lit(" "), col("py0m") / 1000.0, lit(", "),
         col("px1m") / 1000.0, lit(" "), col("py0m") / 1000.0, lit(", "),
         col("px1m") / 1000.0, lit(" "), col("py1m") / 1000.0, lit(", "),
         col("px0m") / 1000.0, lit(" "), col("py1m") / 1000.0, lit(", "),
         col("px0m") / 1000.0, lit(" "), col("py0m") / 1000.0, lit("))")))
  }

  /** CONCAVE L-ring layer derived from [[polygons]]: each AOI rect
    * with its upper-right quadrant removed (cut at the integer
    * half-width/half-height point). Bbox columns are unchanged (the
    * join prefilter still sees the full rect); geom_wkt is the
    * 6-vertex concave ring — the arbitrary-ring zonal gate's layer.
    * Inclusion under the engine's ray-cast PIP is exactly the union of
    * two half-open rects, which is what the DuckDB oracle states. */
  def polygonsL(spark: SparkSession, sfDir: String): DataFrame =
    polygons(spark, sfDir)
      .withColumn("cutxm", col("px0m") + floor(col("pwm") / 2).cast("long"))
      .withColumn("cutym", col("py0m") + floor(col("phm") / 2).cast("long"))
      .withColumn("geom_wkt",
        concat(lit("POLYGON (("),
          col("px0m") / 1000.0, lit(" "), col("py0m") / 1000.0, lit(", "),
          col("px1m") / 1000.0, lit(" "), col("py0m") / 1000.0, lit(", "),
          col("px1m") / 1000.0, lit(" "), col("cutym") / 1000.0, lit(", "),
          col("cutxm") / 1000.0, lit(" "), col("cutym") / 1000.0, lit(", "),
          col("cutxm") / 1000.0, lit(" "), col("py1m") / 1000.0, lit(", "),
          col("px0m") / 1000.0, lit(" "), col("py1m") / 1000.0, lit(", "),
          col("px0m") / 1000.0, lit(" "), col("py0m") / 1000.0, lit("))")))

  /** Scalable image-metadata generator for BENCHMARKS: same formulas,
    * keys from spark.range (partitioned, no source table bottleneck).
    * At 10^12 rows this is simply range(n) over more partitions —
    * nothing in the derivation is driver-side. */
  def imagesRange(spark: SparkSession, n: Long,
                  numPartitions: Int): DataFrame = {
    val ids = spark.range(0, n, 1, numPartitions)
    val k = col("id")
    ids.select(
      k.as("k"),
      concat(lit("img-"), k.cast("string")).as("image_id"),
      (lit(16) + (k * 13) % 240).cast("long").as("w"),
      (lit(16) + (k * 29) % 240).cast("long").as("h"),
      element_at(array(Formats.map(lit): _*), ((k % 6) + 1).cast("int")).as("fmt"),
      (k % 5).as("nw"),
      ((k * 7919) % 300000 - 150000).as("x0m"),
      ((k * 104729) % 120000 - 60000).as("y0m")
    ).withColumn("x1m", col("x0m") + col("w") * ResM)
     .withColumn("y1m", col("y0m") + col("h") * ResM)
  }

  /** Scalable polygon generator for benchmarks (m polygons).
    * `sizeDiv` shrinks polygon extents (realistic AOI density for the
    * throughput benchmark: default 4–32°/div). */
  def polygonsRange(spark: SparkSession, m: Long, sizeDiv: Long = 1L): DataFrame = {
    val j = col("id")
    spark.range(0, m).select(
      j.as("fid"),
      ((j * 51237 + 7919) % 280000 - 150000).as("px0m"),
      ((j * 26543 + 104729) % 100000 - 55000).as("py0m"),
      ((lit(4000) + (j * 3571) % 28000) / sizeDiv).cast("long").as("pwm"),
      ((lit(3000) + (j * 2713) % 20000) / sizeDiv).cast("long").as("phm")
    ).withColumn("px1m", col("px0m") + col("pwm"))
     .withColumn("py1m", col("py0m") + col("phm"))
  }

  // ---- audio clips (opaque PCM payload + typed metadata) ----
  //
  // The third modality of the multimodal contract (image/video/audio as
  // opaque binary + typed metadata). One clip per `customer` row; the
  // waveform is pure integer arithmetic so the DuckDB oracle replays it
  // per-sample with generate_series (SQL mirror: OracleCte.audio /
  // audioGen). Shape: `lead`/`tail` samples of exact silence, a
  // sawtooth body of period m/f and amplitude m/2, and every third
  // 160-sample frame attenuated 16× (floor division) — a voiced/soft
  // alternation that gives VAD, framing and fingerprint ops real
  // structure to find.

  val AudioLangs: Seq[String] = Seq("en", "de", "fr", "es", "ja")

  def audSrOf(k: Long): Long   = 8000L * (1 + k % 2)
  def audNOf(k: Long): Long    = 400 + (k * 37) % 1600
  def audLeadOf(k: Long): Long = k % 50
  def audTailOf(k: Long): Long = (k * 3) % 50
  def audFreqOf(k: Long): Long = 3 + k % 13
  def audModOf(k: Long): Long  = 2 * (500 + (k * 13) % 1500) // even

  /** Sample i of clip k. Soft frames use floorDiv to mirror the
    * oracle's floor(raw/16.0) exactly on negatives (DuckDB `//`
    * truncates toward zero, so the SQL side states floor()). */
  def audioSample(k: Long, i: Long): Int = {
    if (i < audLeadOf(k) || i >= audNOf(k) - audTailOf(k)) 0
    else {
      val m = audModOf(k)
      val raw = (i * audFreqOf(k) + k * 7) % m - m / 2
      (if ((i / 160) % 3 == 0) Math.floorDiv(raw, 16L) else raw).toInt
    }
  }

  /** Noisy twin of clip k: +1 on ~n/997 samples — a near-duplicate by
    * construction (span-energy fingerprints land within Hamming ≤ 3). */
  def audioTwinSample(k: Long, i: Long): Int =
    audioSample(k, i) + (if ((i * 31 + k) % 997 == 0) 1 else 0)

  def encodeAudio(k: Long, twin: Boolean = false): Array[Byte] = {
    val n = audNOf(k).toInt
    val bb = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      bb.putShort((if (twin) audioTwinSample(k, i) else audioSample(k, i))
        .toShort)
      i += 1
    }
    bb.array()
  }

  /** Audio metadata table derived from `customer` — no payload.
    * Columns: k, audio_id, sr, n, fmt, speaker, lang. */
  def audio(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val k = col("c_custkey").cast("long")
    cust.select(
      k.as("k"),
      concat(lit("aud-"), col("c_custkey").cast("string")).as("audio_id"),
      (lit(8000L) * (lit(1) + k % 2)).as("sr"),
      (lit(400) + (k * 37) % 1600).as("n"),
      lit("pcm-i16le").as("fmt"),
      concat(lit("spk-"), (k % 20).cast("string")).as("speaker"),
      element_at(array(AudioLangs.map(lit): _*),
        (((k * 3) % 5) + 1).cast("int")).as("lang"))
  }

  /** Audio WITH encoded i16le payload. `twins = true` appends a noisy
    * twin row (audio_id + "-tw") for every clip with k % 40 == 0 —
    * constructed near-duplicates for the dedup gates. */
  def audioWithBytes(spark: SparkSession, sfDir: String,
                     keyFilter: DataFrame => DataFrame = identity,
                     twins: Boolean = false): DataFrame = {
    val enc   = udf((k: Long) => encodeAudio(k))
    val encTw = udf((k: Long) => encodeAudio(k, twin = true))
    // no repartition here: audio payloads are <=4KB (<=2000 samples),
    // so synthesis is trivial and the extra exchange measurably
    // regressed every small audio gate (the imagesWithBytes win case
    // is MB-scale payloads on one scan task)
    val base  = keyFilter(audio(spark, sfDir))
    val withB = base.withColumn("bytes", enc(col("k")))
    if (!twins) withB
    else withB.unionByName(
      base.where(col("k") % 40 === 0)
        .withColumn("audio_id", concat(col("audio_id"), lit("-tw")))
        .withColumn("bytes", encTw(col("k"))))
  }
}
