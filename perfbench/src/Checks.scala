package perfbench

import graft.core.Codec
import graft.gen.Synth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Attempted and failed operations of a run. A wrong result is a failed
  * operation; every failure is reported on standard error. */
final class Tally {
  var attempted = 0L
  var failed = 0L

  def check(what: String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] FAILED: $what")
    }
    ok
  }
}

object Checks {

  /** (rows, order-insensitive row hash) of a result. Columns are taken by
    * position; map-typed columns are hashed through their JSON form. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = xxhash64(cols: _*)
    // two 32-bit halves summed separately: no overflow under ANSI mode
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1) * 0x9E3779B97F4A7C15L + r.getLong(2))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The north-star per-row invariant of a stored image row: raw, png and
    * bmp decode pixel-exact to `Synth.planes`, jpg reaches PSNR >= 40 dB,
    * caption and phash are unchanged. Returns the first violation. */
  def roundTrip(k: Long, bytes: Array[Byte], w: Int, h: Int, fmt: String,
                caption: String, phash: Long): Option[String] = {
    val want = Synth.planes(k)
    if (w != Synth.wOf(k) || h != Synth.hOf(k) || fmt != Synth.fmtOf(k))
      return Some(s"image $k: shape or format changed")
    val got = Codec.decode(bytes, w, h, want.length, fmt)
    val pixelsOk =
      if (fmt == "jpg") Codec.psnr(got(0), want(0)) >= 40.0
      else want.indices.forall(b => samePlane(got(b), want(b)))
    if (!pixelsOk) Some(s"image $k ($fmt): decoded pixels differ")
    else if (caption != Inputs.caption(k)) Some(s"image $k: caption differs")
    else if (phash != Codec.aHash(want(0), w, h)) Some(s"image $k: phash differs")
    else None
  }

  private def samePlane(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i => java.lang.Double.compare(a(i), b(i)) == 0)
}
