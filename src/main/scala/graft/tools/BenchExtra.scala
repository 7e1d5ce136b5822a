package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Per-query isolation bench for the optimization rounds (guide §1):
  * times individual declared queries with the SAME action and session
  * shape as the frozen `graft.Bench` (count(), median of 3 back-to-back
  * trials, steady-state after an sf0.001 warm-up), and optionally dumps
  * `.explain("formatted")` to plans/<tag>/<query>_<suffix>.txt so plan
  * claims are checkable without running Spark.
  *
  * Usage: runMain graft.tools.BenchExtra [--plans <tag>/<suffix>] q1 q2 ...
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: all available processors).
  * NOT part of the driver contract — Bench.scala is the frozen harness.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (planDest, names) =
      if (args.length >= 2 && args(0) == "--plans")
        (Some(args(1)), args.drop(2).toSeq)
      else (None, args.toSeq)
    val spark = graft.Session("graft-bench-extra")
    // steady-state warm-up (same rationale as Bench: cold JVM pays
    // JIT/codegen/reader init, not plan cost)
    names.headOption.foreach { w =>
      try graft.SparkEntry.queries(w)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => }
    }
    val results = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      planDest.foreach { dest =>
        val Array(tag, suffix) = dest.split("/", 2)
        val dir = Paths.get("plans", tag)
        Files.createDirectories(dir)
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
      }
      spark.sparkContext.setJobDescription(name)
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"$name FAILED: $e"); false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val med = if (walls.contains(-1.0)) -1.0 else walls.sorted.apply(1)
      println(f"EXTRA $name median=$med%.3f trials=${walls.map(t => f"$t%.2f").mkString(",")}")
      name -> med
    }
    println(results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{\"benchextra\":{", ",", s"},\"sf\":\"$sfDir\"}"))
    spark.stop()
  }
}
