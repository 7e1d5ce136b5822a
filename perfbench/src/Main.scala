package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal
import Timing.timed

/** Benchmark JVM. Run from the checkout root (see perfbench/README.md):
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *   Main --record-fingerprints FILE
  *   Main --selftest
  *
  * The last standard-output line of a run is its JSON result. */
object Main {
  val Workloads = Seq("join_tile", "shuffle_join", "payload", "gate_suite")
  val FingerprintFile = "perfbench/gate_fingerprints.tsv"
  val SetupRepeats = 3
  val RecordPasses = 3

  def session(cpus: Int, tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v; case Array(k) => k -> "" }.toMap
    val root = Paths.get("").toAbsolutePath
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val cpus = Runtime.getRuntime.availableProcessors
    val code =
      try {
        val (spark, sessionS) = timed(session(cpus, tmp))
        try {
          if (opts.contains("--selftest")) SelfTest.run(spark, root, tmp, cpus)
          else if (opts.contains("--record-fingerprints"))
            record(spark, root, Paths.get(opts("--record-fingerprints")))
          else bench(spark, root, tmp, cpus, sessionS, opts)
        } finally spark.stop()
      } catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def workload(name: String, c: Ctx): Workload = name match {
    case "join_tile" => new JoinTile(c)
    case "shuffle_join" => new ShuffleJoin(c)
    case "payload" => new Payload(c)
    case "gate_suite" => new GateSuite(c, GateSuite.load(c.root.resolve(FingerprintFile)))
  }

  private def bench(spark: SparkSession, root: Path, tmp: Path, cpus: Int, sessionS: Double,
                    opts: Map[String, String]): Int = {
    val name = opts("--workload")
    require(Workloads.contains(name), s"unknown workload $name (one of ${Workloads.mkString(", ")})")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val tally = new Tally
    val c = new Ctx(spark, seed, cpus, root, tmp, tally)
    val m = new Metrics
    if (opts("--trace") == "1") {
      // the traced run attributes every workload, so it reports every per-layer metric
      val t = new Tracer(spark, s"$name-$seed")
      t.count("session_start_s", sessionS, "s")
      Workloads.foreach { w =>
        val wl = workload(w, c)
        val (_, s) = timed(wl.setup())
        t.count(s"$w.setup_s", s, "s")
        t.span(w, "")(wl.attribute(t, m))
      }
      Kernels.run(t, m)
      m.put("jvm.peak_rss_mb", peakRssMb(), "MB")
      val out = Paths.get(opts.getOrElse("--out", tmp.toString)).resolve(s"trace-$name-$seed.jsonl")
      t.write(out)
      System.err.println(s"[perfbench] spans and counts written to $out")
    } else {
      val w = workload(name, c)
      val setup = (1 to SetupRepeats).map(_ => timed(w.setup())._2)
      val ops = w.measure(seconds)
      m.put("items_per_s", Timing.median(ops.map(o => o.items / o.seconds)), "1/s")
      m.put("op_p50_ms", Timing.median(ops.map(_.seconds)) * 1000, "ms")
      m.put("cpu_ns_per_item", Timing.median(ops.map(o => o.cpuS * 1e9 / o.items)), "ns")
      m.put("setup_s", Timing.median(setup), "s")
      System.err.println(f"[perfbench] $name: session start $sessionS%.2f s, set-ups ${setup.map(s => f"$s%.2f").mkString(" ")} s, " +
        s"operations ${ops.map(o => f"${o.seconds}%.3f").mkString(" ")} s")
    }
    println(result(tally, m))
    0
  }

  /** The JVM's resident-set high-water mark (VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def result(tally: Tally, m: Metrics): String = {
    val metrics = m.values.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": ${tally.failed == 0}, "attempted": ${tally.attempted}, "failed": ${tally.failed}, "metrics": $metrics}"""
  }

  /** Records every gate's fingerprint over [[RecordPasses]] passes in
    * different orders; fails if a gate's rows or hash differ between passes. */
  private def record(spark: SparkSession, root: Path, out: Path): Int = {
    graft.expr.GraftFunctions.register(spark)
    val dir = root.resolve("perfbench/data/sf0.001").toString
    val gates = graft.SparkEntry.queries.keys.toSeq.sorted
    val seen = mutable.Map.empty[String, mutable.ArrayBuffer[((Long, Long), Double)]]
    (1 to RecordPasses).foreach { p =>
      new scala.util.Random(p).shuffle(gates).foreach { g =>
        val (fp, s) = timed(Checks.fingerprint(GateSuite.run(spark, dir, g)))
        seen.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((fp, s))
        System.err.println(f"[perfbench] pass $p $g%-28s ${fp._1}%8d rows $s%7.3f s")
      }
      System.err.println(s"[perfbench] recording pass $p done")
    }
    val recs = gates.map { g =>
      val runs = seen(g)
      val rows = runs.map(_._1._1).distinct
      require(rows.size == 1, s"$g: row count differs between passes: $rows")
      val hashes = runs.map(_._1._2).distinct
      require(GateSuite.RowsOnly(g) || hashes.size == 1, s"$g: row hash differs between passes")
      val hash = if (GateSuite.RowsOnly(g)) None else Some(hashes.head)
      GateRecord(g, GateSuite.family(g), rows.head, hash, Timing.median(runs.map(_._2).toSeq) * 1000)
    }
    GateSuite.write(out, recs)
    0
  }
}
