package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A spec with one factory session for the whole suite, stopped after
  * its last test. Pinned at 4 cores, not host-sized, so partition-
  * dependent results are the same on every host. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session(getClass.getSimpleName, cores = 4)
  override def afterAll(): Unit = spark.stop()
}
