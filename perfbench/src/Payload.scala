package perfbench

import graft.core.Codec
import graft.gen.Synth
import graft.ops.{Indices, Stats}
import graft.table.Lineage
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import Timing.timed

/** Image + caption rows through the engine's table layer. Each pass
  * ingests a fresh seed-keyed batch (encode → `Lineage.writeResumable`,
  * then a resume call that must commit nothing) and scans it back
  * (`Lineage.read` → `Stats.bandStats` + `Indices.indexStats(ndvi)`). */
final class Payload(c: Ctx, batch: Long = 600L) extends Workload {
  val name = "payload"
  private val off = Inputs.keyOffset(c.seed, 3)
  private val rnd = new java.util.Random(c.seed)
  private val raw = col("fmt").startsWith("raw-")
  private var batches = 0L

  private def nextKeys(): Long = { batches += 1; off + batches * 10000000L }
  private def rows(k0: Long, m: Long): DataFrame = Inputs.payload(c.spark, k0, m, c.parts)
  private def ingest(df: DataFrame, root: String): Int =
    Lineage.writeResumable(c.spark, df, root, "image_id", c.cpus)
  private def bandStats(root: String) =
    Stats.bandStats(Lineage.read(c.spark, root), Synth.NumBands).agg(count(lit(1)), sum("cnt")).head()
  private def ndvi(root: String) =
    Indices.indexStats(Lineage.read(c.spark, root).where(raw), Seq("ndvi"), Synth.NumBands)
      .agg(count(lit(1)), sum("n_valid")).head()

  /** Checks a scanned batch: one bandStats row per stored band, one ndvi
    * row per raw image, and the round-trip invariant on one seeded row
    * of each format. */
  private def scanOk(k0: Long, m: Long, root: String, bandRows: Long, ndviRows: Long): Boolean = {
    val keys = k0 until k0 + m
    val wantBands = keys.map(k => Codec.bandsStored(Synth.fmtOf(k), Synth.NumBands).toLong).sum
    val wantRaw = keys.count(k => Codec.isRaw(Synth.fmtOf(k))).toLong
    val sample = Synth.Formats.indices.map { f =>
      val j = rnd.nextInt((m / 6).toInt - 1)
      k0 + 6L * j + java.lang.Math.floorMod(f - k0, 6L)
    }
    val back = Lineage.read(c.spark, root).where(col("k").isin(sample: _*))
      .select("k", "bytes", "w", "h", "fmt", "caption", "phash").collect()
    val bad = back.flatMap(r => Checks.roundTrip(r.getLong(0), r.getAs[Array[Byte]](1),
      r.getLong(2).toInt, r.getLong(3).toInt, r.getString(4), r.getString(5), r.getLong(6)))
    bad.foreach(b => System.err.println(s"[perfbench] payload: $b"))
    back.length == sample.size && bad.isEmpty && bandRows == wantBands && ndviRows == wantRaw
  }

  private def deleteTree(root: String): Unit =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def onePass(m: Long): Op = {
    val k0 = nextKeys()
    val root = c.tmp.resolve(s"payload-$batches").toString
    val ((first, again, bs, ix), s) = timed {
      val df = rows(k0, m)
      val first = ingest(df, root)
      val again = ingest(df, root)
      (first, again, bandStats(root), ndvi(root))
    }
    c.tally.check(s"payload: batch at $k0 committed $first then $again buckets, scan rows ${bs.getLong(0)}/${ix.getLong(0)}",
      first == c.cpus && again == 0 && scanOk(k0, m, root, bs.getLong(0), ix.getLong(0)))
    deleteTree(root)
    Op(s, m)
  }

  def setup(): Unit = onePass(batch / 8)

  def pass(): Op = onePass(batch)

  def attribute(t: Tracer, m: Metrics): Unit = {
    val p = name
    pass() // warm, so the untraced and traced walls compare like for like
    // whole passes, untraced then traced: the spans below read the table more
    // than once, so their sum is no like-for-like base for the overhead
    val u = t.bare(pass())._1.seconds
    val (traced, _, _) = t.span(s"$p.pass", p)(pass())
    val k0 = nextKeys()
    val root = c.tmp.resolve(s"payload-$batches").toString
    val df = rows(k0, batch)
    val (_, encode, stE) = t.span(s"$p.gen.encode", p)(df.agg(sum(length(col("bytes"))), count(lit(1))).head())
    val (first, write, stW) = t.span(s"$p.table.write", p)(ingest(df, root))
    val (again, noop, _) = t.span(s"$p.table.resume", p)(ingest(df, root))
    val written = Lineage.latestCommits(root).values.map(_.bytes).sum
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val (_, read, _) = t.span(s"$p.table.read", p)(
      Lineage.read(c.spark, root).agg(sum(length(col("bytes")))).head())
    val (_, readRaw, _) = t.span(s"$p.table.read_raw", p)(
      Lineage.read(c.spark, root).where(raw).agg(sum(length(col("bytes")))).head())
    val (bs, bsS, stB) = t.span(s"$p.ops.Stats.bandStats", p)(bandStats(root))
    val (ix, ixS, stI) = t.span(s"$p.ops.Indices.ndvi", p)(ndvi(root))
    c.tally.check(s"payload (traced): committed $first then $again buckets",
      first == c.cpus && again == 0 && scanOk(k0, batch, root, bs.getLong(0), ix.getLong(0)))
    deleteTree(root)
    m.put(s"$p.gen.encode_s", encode, "s")
    m.put(s"$p.table.write_self_s", write - encode, "s")
    m.put(s"$p.table.resume_noop_s", noop, "s")
    m.put(s"$p.table.bytes_written_mb", written / 1e6, "MB")
    m.put(s"$p.table.files_written", files, "count")
    m.put(s"$p.table.bytes_per_image", written.toDouble / batch, "B")
    m.put(s"$p.table.read_s", read, "s")
    m.put(s"$p.ops.Stats.bandstats_self_s", bsS - read, "s")
    m.put(s"$p.ops.Indices.ndvi_self_s", ixS - readRaw, "s")
    m.put(s"$p.ingest_images_per_s", batch / write, "1/s")
    m.put(s"$p.scan_images_per_s", batch / (bsS + ixS), "1/s")
    m.put(s"$p.trace_overhead_share", traced.seconds / u - 1, "ratio")
    Attribution.sparkCounts(m, p, stE.add(stW).add(stB).add(stI))
  }
}
