package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session shape, shared by every main and spec:
  * `local[cores]` with shuffle partitions = cores, AQE on, UTC, UI off,
  * log level WARN. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, otherwise every processor the JVM sees. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` is applied last, so it can override any setting above
    * (ScalePhase sets `spark.master` to a local-cluster). */
  def apply(appName: String, cores: Int = defaultCores,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
