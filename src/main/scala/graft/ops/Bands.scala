package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Codec, Pixels}
import graft.gen.Synth

/** Band-level operators on the bands-in-payload model: the reference's
  * GeoImage band collection surface — select/reorder
  * (/root/reference/GIP/GeoImage.cpp:125-146), name registry with
  * case-insensitive lookup (/root/reference/GIP/gip/GeoImage.h:196-208,
  * :444-452), mask application (/root/reference/GIP/gip/GeoRaster.h:
  * 474-482) and overview pyramids (/root/reference/GIP/GeoImage.cpp:
  * 284-291 — GDAL NEAREST at levels 2,4,8).
  *
  * Band names live in a `bands` array column (lower-cased registry);
  * payload band ops are per-row re-encode kernels (no shuffle).
  * Overview levels become explicit rows of a derived pyramid table —
  * the cluster-scale replacement for GDAL's in-file side effect.
  */
object Bands {

  def bandIndex(names: Seq[String], name: String): Int = {
    val i = names.indexWhere(_.equalsIgnoreCase(name))
    require(i >= 0, s"band $name not found in $names")
    i
  }

  def bandsExist(names: Seq[String], want: Seq[String]): Boolean =
    want.forall(w => names.exists(_.equalsIgnoreCase(w)))

  // ---- add_band / set_bandname (GeoImage.cpp:108-123, GeoImage.h:153-177) ----

  /** add_band: append a DERIVED plane (computed from the existing cube
    * by `plane`) under a new name; duplicate names rejected like the
    * reference's dup check (GeoImage.cpp:110-114). Payload re-encoded
    * with nb+1 bands; `bands` column gains the lower-cased name. */
  def addBand(imagesWithBytes: DataFrame, name: String,
              plane: Array[Array[Double]] => Array[Double],
              allNames: Seq[String] = Synth.BandNames): DataFrame = {
    require(!allNames.exists(_.equalsIgnoreCase(name)),
      s"duplicate band name $name (existing: $allNames)")
    val tx = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      // png/bmp/jpg store ONE band: re-encoding an enlarged cube would
      // silently keep band 0 while `bands` claims the appended name
      require(Codec.isRaw(fmt),
        s"add_band requires a multi-band (raw-*) codec, got $fmt")
      val cube = Codec.decode(bytes, w, h,
        Codec.bandsStored(fmt, allNames.length), fmt)
      Codec.encode(cube :+ plane(cube), w, h, fmt)
    })
    imagesWithBytes
      .withColumn("bytes", tx(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt")))
      .withColumn("bands",
        array((allNames :+ name).map(n => lit(n.toLowerCase)): _*))
  }

  /** set_bandname: rename a band in the registry column; uniqueness
    * enforced (GeoImage.h:158-166). Case-insensitive match like every
    * band lookup. */
  def renameBand(df: DataFrame, from: String, to: String,
                 allNames: Seq[String] = Synth.BandNames): DataFrame = {
    bandIndex(allNames, from) // exists
    require(!allNames.exists(_.equalsIgnoreCase(to)),
      s"band name $to already exists in $allNames")
    val renamed = allNames.map(n =>
      if (n.equalsIgnoreCase(from)) to.toLowerCase else n.toLowerCase)
    df.withColumn("bands", array(renamed.map(lit): _*))
  }

  /** create_from (GeoImage.h:85-110): a new image table cloning the
    * template's geometry/metadata columns with a NEW format and band
    * count; payload = blank all-nodata planes (the reference's
    * nodata-initialized create). */
  def createFrom(template: DataFrame, fmt: String, nb: Int,
                 bandNames: Seq[String]): DataFrame = {
    require(bandNames.length == nb, "one name per band")
    require(nb == 1 || Codec.isRaw(fmt),
      s"create_from with $nb bands requires a raw-* codec, got $fmt")
    val blank = udf((w: Int, h: Int) =>
      Codec.encode(Array.fill(Codec.bandsStored(fmt, nb))(
        Array.fill(w * h)(Double.NaN)), w, h, fmt))
    template
      .withColumn("fmt", lit(fmt))
      .withColumn("bytes", blank(col("w").cast("int"), col("h").cast("int")))
      .withColumn("bands", array(bandNames.map(n => lit(n.toLowerCase)): _*))
  }

  /** Multi-file open (GeoImage.cpp:33-48): stack the bands of two image
    * tables sharing footprints — an equi-join on image_id, payloads
    * decoded and re-encoded as one cube, band names PREFIXED per source
    * like the reference's basename prefixes. */
  def stack(a: DataFrame, b: DataFrame, prefixA: String, prefixB: String,
            namesA: Seq[String] = Synth.BandNames,
            namesB: Seq[String] = Synth.BandNames): DataFrame = {
    val bSide = b.select(col("image_id"), col("bytes").as("bytes_b"),
      col("fmt").as("fmt_b"))
    val tx = udf((bytes: Array[Byte], fmt: String, bytesB: Array[Byte],
                  fmtB: String, w: Int, h: Int) => {
      require(Codec.isRaw(fmt),
        s"stack requires a multi-band (raw-*) output codec, got $fmt")
      val ca = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, namesA.length), fmt)
      val cb = Codec.decode(bytesB, w, h, Codec.bandsStored(fmtB, namesB.length), fmtB)
      Codec.encode(ca ++ cb, w, h, fmt)
    })
    val names = namesA.map(n => s"$prefixA-$n".toLowerCase) ++
      namesB.map(n => s"$prefixB-$n".toLowerCase)
    a.join(bSide, Seq("image_id"))
      .withColumn("bytes", tx(col("bytes"), col("fmt"), col("bytes_b"),
        col("fmt_b"), col("w").cast("int"), col("h").cast("int")))
      .drop("bytes_b", "fmt_b")
      .withColumn("bands", array(names.map(lit): _*))
  }

  /** Subdataset expansion (GeoImage.cpp:148-186): every subdataset of
    * a container contributes ONE band (the reference assumes 1
    * band/subdataset; band name = the subdataset description), and the
    * container's frame adopts the LARGEST subdataset (max xsize,
    * lowest index among ties — the reference's strict-`>` scan).
    *
    * `subs` rows: (image_id, sub_idx, name, bytes, w, h, fmt) with
    * single-band raw payloads. The columnar model stores one cube per
    * image, so all subdatasets must share the frame dims (true of the
    * reference's HDF use case); differing dims throw rather than
    * invent a resample the reference doesn't perform. Returns one row
    * per container: (image_id, bytes, w, h, fmt, bands). */
  def expandSubdatasets(subs: DataFrame): DataFrame = {
    val tx = udf((ss: Seq[org.apache.spark.sql.Row]) => {
      val rows = ss.sortBy(_.getLong(0)) // by sub_idx
      val dims = rows.map(r => (r.getInt(3), r.getInt(4)))
      var frame = 0
      var i = 1
      while (i < dims.length) {
        if (dims(i)._1 > dims(frame)._1) frame = i
        i += 1
      }
      val (fw, fh) = dims(frame)
      val fmt = rows(frame).getString(5)
      require(Codec.isRaw(fmt),
        s"subdataset expansion requires raw payloads, got $fmt")
      require(dims.forall(_ == ((fw, fh))),
        s"subdataset dims $dims differ from frame ${(fw, fh)} — " +
          "unsupported (reference HDF subdatasets share the frame)")
      val planes = rows.map { r =>
        Codec.decode(r.getAs[Array[Byte]](2), fw, fh, 1, r.getString(5))(0)
      }
      (Codec.encode(planes.toArray, fw, fh, fmt), fw, fh, fmt,
        rows.map(_.getString(1).toLowerCase))
    })
    subs
      .groupBy(col("image_id"))
      .agg(collect_list(struct(col("sub_idx").cast("long"), col("name"),
        col("bytes"), col("w").cast("int"), col("h").cast("int"),
        col("fmt"))).as("ss"))
      .withColumn("x", tx(col("ss")))
      .select(col("image_id"), col("x._1").as("bytes"),
        col("x._2").cast("long").as("w"), col("x._3").cast("long").as("h"),
        col("x._4").as("fmt"), col("x._5").as("bands"))
  }

  // ---- metadata get/set (GeoResource.cpp:220-265, GeoRaster.cpp:179-208) ----

  /** Metadata set into `into` (a map<string,string> column, created if
    * absent): add/overwrite entries. Overwritten keys are filtered
    * first, so no duplicate-key policy is involved. */
  private def setMetaInto(df: DataFrame, into: String,
                          kv: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    val keys = kv.keys.toSeq
    val newMap = map(kv.toSeq.flatMap { case (k, v) => Seq(lit(k), v) }: _*)
    val cleaned =
      if (df.columns.contains(into))
        map_filter(col(into), (k, _) => keys.map(lit(_) =!= k).reduce(_ && _))
      else map().cast("map<string,string>")
    df.withColumn(into, map_concat(cleaned, newMap))
  }

  /** Dataset-level metadata set (`meta` column). */
  def setMeta(df: DataFrame, kv: Map[String, org.apache.spark.sql.Column]): DataFrame =
    setMetaInto(df, "meta", kv)

  /** Band-level metadata set: entries keyed `band/key` in the
    * `bandmeta` map column (the reference's per-band dictionary,
    * GeoRaster.cpp:179-208, flattened for the columnar model). */
  def setBandMeta(df: DataFrame, band: String,
                  kv: Map[String, org.apache.spark.sql.Column]): DataFrame =
    setMetaInto(df, "bandmeta",
      kv.map { case (k, v) => (s"${band.toLowerCase}/$k", v) })

  /** meta(key) accessor (missing ⇒ null, like the reference's empty
    * string return, GeoResource.cpp:236-243). */
  def getMeta(df: DataFrame, key: String): org.apache.spark.sql.Column =
    element_at(col("meta"), key)

  /** set_gain/set_offset/set_nodata column surface (GeoImage.h:221-234):
    * per-band I/O attributes as a `bandattr` struct column —
    * `bandattr[band] = (gain, offset, nodata)`. Kernels that read a
    * band apply raw·gain + offset (GeoRaster.h:496-501); the Pixels
    * apply/inverse kernels already implement the math — this is the
    * column-metadata carrier. */
  def setGainOffset(df: DataFrame, band: String, gain: Double,
                    offset: Double, nodata: Double = Double.NaN): DataFrame = {
    val entry = struct(lit(gain).as("gain"), lit(offset).as("offset"),
      lit(nodata).as("nodata"))
    val key = band.toLowerCase
    val cleaned =
      if (df.columns.contains("bandattr"))
        map_filter(col("bandattr"), (k, _) => k =!= lit(key))
      else map().cast("map<string,struct<gain:double,offset:double,nodata:double>>")
    df.withColumn("bandattr", map_concat(cleaned, map(lit(key), entry)))
  }

  /** Per-image aggregate of band 0 AFTER applying the bandattr
    * gain/offset at the read boundary: (n_valid, Σ floor(out·1e3)). */
  val gainOffsetStatsAgg = udf((bytes: Array[Byte], w: Int, h: Int,
                                fmt: String, nb: Int, gain: Double,
                                offset: Double) => {
    Pixels.validFloorSum(Pixels.applyGainOffset(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0),
      gain, offset), 1e3)
  })

  /** set_color → color interpretation tag (GeoRaster.h:120-133):
    * band-name metadata only, as the SURVEY maps it. */
  def setColor(df: DataFrame, band: String, interp: String): DataFrame =
    setBandMeta(df, band, Map("colorinterp" -> lit(interp)))

  /** add_colortable / clear_colortable (GeoRaster.h:136-158): byte-only
    * color ramp stored as band metadata entries `band/color/<idx>` =
    * "r,g,b" (cosmetic in the reference — used once for display in
    * test_GeoAlgorithms.py:118-127). */
  def addColortable(df: DataFrame, band: String,
                    ramp: Seq[(Int, (Int, Int, Int))]): DataFrame =
    setBandMeta(df, band, ramp.map { case (idx, (r, g, b)) =>
      (s"color/$idx", lit(s"$r,$g,$b"))
    }.toMap)

  def clearColortable(df: DataFrame, band: String): DataFrame = {
    val prefix = s"${band.toLowerCase}/color/"
    df.withColumn("bandmeta",
      map_filter(col("bandmeta"), (k, _) => !k.startsWith(prefix)))
  }

  /** info() debug summary (GeoImage.cpp:69-85, GeoRaster.cpp:58-79):
    * one human-readable line per image from its metadata columns. */
  def info(images: DataFrame, bandNames: Seq[String] = Synth.BandNames): DataFrame =
    images.select(col("image_id"),
      concat(col("image_id"), lit(": "), col("w"), lit("x"), col("h"),
        lit(" fmt="), col("fmt"),
        lit(s" bands=${bandNames.mkString(",")}"),
        lit(" extent=["), col("x0m"), lit(","), col("y0m"), lit(","),
        col("x1m"), lit(","), col("y1m"), lit("]")).as("info"))

  /** select(names): keep subset/reorder; payload re-encoded. */
  def select(imagesWithBytes: DataFrame, names: Seq[String],
             allNames: Seq[String] = Synth.BandNames): DataFrame = {
    val idx = names.map(bandIndex(allNames, _))
    val tx = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      val cube = Codec.requireBands(
        Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, allNames.length), fmt),
        idx.max + 1, "select(bands)", fmt)
      Codec.encode(idx.map(cube).toArray, w, h, fmt)
    })
    imagesWithBytes
      .withColumn("bytes", tx(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt")))
      .withColumn("bands", array(names.map(n => lit(n.toLowerCase)): _*))
  }

  /** Mask application: pixels of band `target` where mask-band
    * predicate (v > threshold) fails become nodata; returns exact
    * aggregate (n_valid, vsum) of the masked band. */
  val maskStatsAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                          nb: Int, maskBand: Int, thresh: Double,
                          target: Int) => {
    val cube = Codec.requireBands(
      Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt),
      math.max(maskBand, target) + 1, "apply_mask", fmt)
    val mask = Pixels.applyChain(cube(maskBand), Seq(Pixels.gt(thresh)))
    Pixels.validSum(Pixels.applyMask(cube(target), mask))
  })

  /** Full NEAREST overview pyramid of band 0 at the reference's levels
    * 2, 4, 8 (GeoImage.cpp:284-291 — GDAL NEAREST): per level L,
    * out(x,y) = src(Lx, Ly), out dims ceil(w/L)×ceil(h/L). Returns one
    * (level, n_valid, vsum) row per level — the derived-pyramid-table
    * model (explicit rows instead of GDAL's in-file side effect). */
  val overviewPyramidAgg = udf((bytes: Array[Byte], w: Int, h: Int,
                                fmt: String, nb: Int) => {
    val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
    Seq(2, 4, 8).map { l =>
      val ow = (w + l - 1) / l; val oh = (h + l - 1) / l
      var n = 0L; var s = 0L
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) {
          val v = p((l * y) * w + l * x)
          if (!v.isNaN) { n += 1; s += v.toLong }
          x += 1
        }
        y += 1
      }
      (l.toLong, n, s)
    }
  })

  /** RESIZE to a fixed target (rw × rh), NEAREST — the standardize-
    * resolution / thumbnail stage of an image-training pipeline (every
    * vision model consumes a fixed input size; the reference's analog
    * is warp-to-resolution). Pixel-center mapping, exact in integers:
    *   xi = floor(((2x+1)·w) / (2·rw)),  yi likewise —
    * i.e. round((x+0.5)·w/rw − 0.5) without any float, so the DuckDB
    * oracle replays the index map digit-exactly. Returns the resized
    * plane of `band` (row-major doubles, NaN preserved). */
  def resizeNearest(p: Array[Double], w: Int, h: Int,
                    rw: Int, rh: Int): Array[Double] = {
    val out = new Array[Double](rw * rh)
    var y = 0
    while (y < rh) {
      val yi = ((2 * y + 1).toLong * h / (2 * rh)).toInt
      var x = 0
      while (x < rw) {
        val xi = ((2 * x + 1).toLong * w / (2 * rw)).toInt
        out(y * rw + x) = p(yi * w + xi)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Gate kernel: resize band 0 to rw×rh (nearest) and aggregate the
    * thumbnail exactly → (n_valid, vsum). Downstream of this, the
    * thumbnail feeds [[graft.core.Codec.blockMeanEmbedding]] exactly
    * like any other plane (standard image-embedding prep). */
  val resizeAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                       nb: Int, rw: Int, rh: Int) => {
    val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
    Pixels.validSum(resizeNearest(p, w, h, rw, rh))
  })

  /** Letterbox content dims: aspect-preserving fit of w×h into s×s
    * (integer floor scale, min content dim 1) — the long axis fills
    * s, the short axis scales by the same ratio and is centre-padded. */
  def letterboxDims(w: Int, h: Int, s: Int): (Int, Int) =
    if (w >= h) (s, math.max(1, h * s / w))
    else (math.max(1, w * s / h), s)

  /** Letterbox to s×s: NEAREST resample of band 0 into the
    * aspect-preserving content window, centre pad elsewhere (pad
    * contributes nothing to the aggregates). Returns
    * (cw, ch, pad_top, pad_left, n_valid, vsum) — the standard
    * vision-training square-input prep, aggregate-pinned like
    * [[resizeAgg]]. */
  val letterboxAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                          nb: Int, s: Int) => {
    val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
    val (cw, ch) = letterboxDims(w, h, s)
    var n = 0L; var vs = 0L
    var y = 0
    while (y < ch) {
      val yi = ((2 * y + 1).toLong * h / (2 * ch)).toInt
      var x = 0
      while (x < cw) {
        val xi = ((2 * x + 1).toLong * w / (2 * cw)).toInt
        val v = p(yi * w + xi)
        if (!v.isNaN) { n += 1; vs += v.toLong }
        x += 1
      }
      y += 1
    }
    (cw, ch, (s - ch) / 2, (s - cw) / 2, n, vs)
  })

  /** NEAREST 2:1 downsample of band 0 (overview level 2): out(x,y) =
    * src(2x,2y), out dims ceil(w/2)×ceil(h/2). Returns exact aggregate
    * (n_valid, vsum) of the overview plane. */
  val overviewAgg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                         nb: Int) => {
    val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, nb), fmt)(0)
    val ow = (w + 1) / 2; val oh = (h + 1) / 2
    var n = 0L; var s = 0L
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val v = p((2 * y) * w + 2 * x)
        if (!v.isNaN) { n += 1; s += v.toLong }
        x += 1
      }
      y += 1
    }
    (n, s)
  })
}
