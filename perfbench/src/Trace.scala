package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import Timing.timed

/** Spark work done under one job group, summed over its jobs. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** Durations (s) of the tasks that read shuffle data: the exchange's reducers. */
  val reduceTaskS = mutable.ArrayBuffer.empty[Double]

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuS += o.cpuS; gcS += o.gcS
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes
    reduceTaskS ++= o.reduceTaskS
    this
  }
}

/** Benchmark-side listener: stage, task, CPU, GC, shuffle and spill
  * counts per job group (the benchmark sets one group per gate, per
  * join leg and per prefix action). */
final class Ledger extends SparkListener {
  private val byGroup = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(g)
      s.tasks += 1
      s.cpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.diskBytesSpilled
      if (m.shuffleReadMetrics.recordsRead > 0) s.reduceTaskS += e.taskInfo.duration / 1e3
    }
  }

  def take(g: String): GroupStats = synchronized { byGroup.remove(g).getOrElse(new GroupStats) }
}

/** Spans and counts of a traced run, kept in memory and written as JSON
  * lines when the run ends. A span that sets a job group also collects
  * that group's Spark counters. */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val ledger = new Ledger
  sc.addSparkListener(ledger)
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[String]
  private val counts = mutable.ArrayBuffer.empty[String]

  /** Times `f` as span `name` under job group `name`; returns its value,
    * wall seconds and Spark counters. */
  def span[A](name: String, parent: String)(f: => A): (A, Double, GroupStats) = {
    sc.setJobGroup(name, name)
    val start = System.nanoTime()
    val a = try f finally sc.clearJobGroup()
    val end = System.nanoTime()
    spans += s"""{"type":"span","run":${Json.str(runId)},"name":${Json.str(name)},""" +
      s""""parent":${Json.str(parent)},"start_ns":${start - t0},"end_ns":${end - t0}}"""
    BenchBus.drain(sc)
    (a, (end - start) / 1e9, ledger.take(name))
  }

  /** Times `f` untraced: no job group and the ledger detached from the
    * listener bus, so the wall is the comparison base of the tracing
    * overhead. */
  def bare[A](f: => A): (A, Double) = {
    sc.removeSparkListener(ledger)
    try timed(f)
    finally {
      BenchBus.drain(sc)
      sc.addSparkListener(ledger)
    }
  }

  def count(name: String, value: Double, unit: String): Unit =
    counts += s"""{"type":"count","run":${Json.str(runId)},"name":${Json.str(name)},""" +
      s""""value":${Json.num(value)},"unit":${Json.str(unit)}}"""

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, (spans ++ counts).mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite measurement $v")
    java.lang.Double.toString(v)
  }
}
