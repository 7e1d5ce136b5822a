package perfbench

import graft.core.Codec
import graft.gen.Synth

/** Driver-side single-thread microbenchmark of `Codec.decode` and
  * `Codec.bandStatsFused` on a fixed sample of each of ten formats: the
  * six stored ones plus raw u16/u32/i32/f64, transcoded from raw-i16le
  * images the way the q_dtype_stats gate does. Reports ns per stored
  * value (pixel × band) and the bytes each kernel moves per value. */
object Kernels {
  val Formats: Seq[String] = Synth.Formats ++ Seq("raw-u16le", "raw-u32le", "raw-i32le", "raw-f64le")

  /** Formats whose band statistics stream over the bytes without a plane. */
  val Fused = Set("raw-u8", "raw-i16le", "raw-u16le", "raw-f32le")

  final case class Img(bytes: Array[Byte], w: Int, h: Int, nb: Int)

  /** Eight images per format from fixed keys; values = w·h·bands. */
  def sample(fmt: String): Seq[Img] = {
    val stored = Synth.Formats.indexOf(fmt)
    val src = if (stored >= 0) stored else Synth.Formats.indexOf("raw-i16le")
    (0 until 8).map { j =>
      val k = 600L + 6L * 37L * j + src
      val (w, h) = (Synth.wOf(k), Synth.hOf(k))
      val nb = Codec.bandsStored(fmt, Synth.NumBands)
      val bytes =
        if (stored >= 0) Synth.encodeImage(k)
        else Codec.encode(Codec.decode(Synth.encodeImage(k), w, h, nb, "raw-i16le"), w, h, fmt)
      Img(bytes, w, h, nb)
    }
  }

  /** ns per value of `kernel` over `imgs`: warm for 60 ms, then time whole
    * sweeps for at least 120 ms. */
  private def nsPerValue(imgs: Seq[Img], fmt: String, kernel: (Img, String) => Any): Double = {
    val values = imgs.map(i => i.w.toLong * i.h * i.nb).sum
    def sweepsFor(ms: Long): (Long, Long) = {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < ms * 1000000L) { imgs.foreach(kernel(_, fmt)); n += 1 }
      (n, System.nanoTime() - t0)
    }
    sweepsFor(60)
    val (n, ns) = sweepsFor(120)
    ns.toDouble / (n * values)
  }

  def run(t: Tracer, m: Metrics): Unit = Formats.foreach { fmt =>
    val imgs = sample(fmt)
    val dec = nsPerValue(imgs, fmt, (i, f) => Codec.decode(i.bytes, i.w, i.h, i.nb, f))
    val st = nsPerValue(imgs, fmt, (i, f) => Codec.bandStatsFused(i.bytes, i.w, i.h, i.nb, f))
    val in = imgs.map(_.bytes.length.toDouble).sum / imgs.map(i => i.w.toLong * i.h * i.nb).sum
    m.put(s"payload.core.Codec.decode_ns_per_px.$fmt", dec, "ns")
    m.put(s"payload.core.Codec.bandstats_fused_ns_per_px.$fmt", st, "ns")
    // computed traffic: encoded bytes in, plus the 8-byte double plane written (decode) or
    // written and read back (the unfused statistics path)
    t.count(s"payload.core.Codec.decode_bytes_per_px.$fmt", in + 8, "B")
    t.count(s"payload.core.Codec.bandstats_fused_bytes_per_px.$fmt", if (Fused(fmt)) in else in + 16, "B")
  }
}
