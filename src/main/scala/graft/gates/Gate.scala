package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: its DataFrame over the driver's sf tables and,
  * for value-exact gates, the DuckDB SQL that re-derives the same rows
  * from the same parquet files (`None` for the rows-only gates). */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
                      oracleSql: Option[String])
