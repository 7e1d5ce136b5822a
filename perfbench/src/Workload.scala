package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One checked closed-loop operation: its wall seconds, the items (images
  * or gates) it completed, and the process CPU seconds it used (set by
  * [[Timing.withCpu]]). */
final case class Op(seconds: Double, items: Long, cpuS: Double = 0.0)

/** What every workload gets from the run. `tmp` is the run's scratch
  * directory inside the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val cpus: Int,
                val root: Path, val tmp: Path, val tally: Tally) {
  /** Input partitions: four per core, so a core the host slows down holds
    * back a quarter of its share instead of the whole stage. */
  val parts: Int = 4 * cpus
}

/** Named metrics in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = {
    require(!values.contains(name), s"metric $name reported twice")
    values(name) = (value, unit)
  }
}

trait Workload {
  def name: String

  /** Prepares inputs and reference results, with a small warm-up. It is
    * repeatable: the benchmark runs it several times for the set-up time. */
  def setup(): Unit

  /** One checked operation. */
  def pass(): Op

  /** Closed loop after [[Workload.WarmSeconds]] of untimed warm operations
    * (at least one), so the JIT has compiled most of the driver's planning code:
    * the next operation starts when the previous returns, until `seconds`
    * have passed (at least one operation). */
  def measure(seconds: Double): Seq[Op] = {
    val warm = System.nanoTime() + (Workload.WarmSeconds * 1e9).toLong
    do pass() while (System.nanoTime() < warm)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer(Timing.withCpu(pass()))
    while (System.nanoTime() < end) ops += Timing.withCpu(pass())
    ops.toSeq
  }

  /** Traced attribution: per-layer metrics and the tracing overhead. */
  def attribute(t: Tracer, m: Metrics): Unit
}

object Workload {
  val WarmSeconds = 3.0
}

object Timing {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** `op` with the CPU seconds all of the JVM's threads used while it ran.
    * Unlike a wall, this excludes time the host took the CPUs away. */
  def withCpu(op: => Op): Op = {
    val c0 = os.getProcessCpuTime
    val o = op
    o.copy(cpuS = (os.getProcessCpuTime - c0) / 1e9)
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Shared attribution helpers. */
object Attribution {
  /** Σ over cells of (left rows × right rows): the pairs a cell-equality
    * join considers before its overlap filter. */
  def candidates(left: DataFrame, right: DataFrame): Long = {
    val l = left.groupBy("cell").agg(count(lit(1)).as("nl"))
    val r = right.groupBy("cell").agg(count(lit(1)).as("nr"))
    val row = l.join(r, "cell").agg(coalesce(sum(col("nl") * col("nr")), lit(0L))).head()
    row.getLong(0)
  }

  def sparkCounts(m: Metrics, p: String, st: GroupStats): Unit = {
    m.put(s"$p.spark.stages", st.stages, "count")
    m.put(s"$p.spark.tasks", st.tasks, "count")
    m.put(s"$p.spark.executor_cpu_s", st.cpuS, "s")
    m.put(s"$p.spark.gc_s", st.gcS, "s")
  }
}
