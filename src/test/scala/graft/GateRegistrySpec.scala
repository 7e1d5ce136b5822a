package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the gate registry: the gate names, which gates have no oracle
  * SQL, and the exact text of every oracle query. Moving a gate between
  * files must keep all three; changing an existing gate's SQL fails the
  * hash. */
class GateRegistrySpec extends AnyFunSuite {

  /** SHA-256 of the name-sorted `name\tsql\n` rendering of
    * `SparkEntry.oracleSql`. */
  private val OracleSqlSha256 =
    "a489ab89dc4b1295f891d40ef3d277f8719ba40661952b7a343e5d357743a7a0"

  test("queries holds exactly the gates of perfbench/gate_fingerprints.tsv") {
    val recorded = Files.readAllLines(Paths.get("perfbench/gate_fingerprints.tsv"))
      .asScala.filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")(0)).toSet
    assert(recorded.size === 302)
    assert(SparkEntry.queries.keySet === recorded)
  }

  test("only the three rows-only gates lack oracle SQL") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ===
      Set("q_kmeans_emb", "q_kmeans_pixels", "q_rxd"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("oracle SQL text is unchanged") {
    val rendered = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, sql) => s"$n\t$sql\n" }.mkString
    val sha = MessageDigest.getInstance("SHA-256").digest(rendered.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(sha === OracleSqlSha256)
  }
}
