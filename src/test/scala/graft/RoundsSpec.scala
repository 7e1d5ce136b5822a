package graft

import org.apache.spark.sql.functions._
import graft.ops.Rounds

/** The fixpoint round loop: the cap, early stop, and that superseded
  * checkpoint generations leave the block manager while the final one
  * stays readable. */
class RoundsSpec extends SparkSuite {

  test("a round that never reports stable stops at the cap") {
    val sc = spark.sparkContext
    assert(Rounds.untilStable(sc, 5)(0)(s => (s + 1, false)) === ((5, 5, false)))
    assert(Rounds.untilStable(sc, 5)(0)(s => (s + 1, s + 1 == 3)) === ((3, 3, true)))
    assert(Rounds.untilStable(sc, 0)(0)(s => (s + 1, false)) === ((0, 0, false)))
  }

  test("checkpointing every round leaves at most 2 generations persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (df, n, stable) = Rounds.untilStable(sc, 10)(
        spark.range(4).toDF("x").localCheckpoint()) { d =>
      (d.select((col("x") + 1).as("x")).localCheckpoint(), false)
    }
    assert((n, stable) === ((10, false)))
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.size <= 2,
      s"${leaked.size} checkpointed RDDs left after $n rounds")
    // the final generation is still there to read
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (10L to 13L))
    for (id <- leaked; rdd <- sc.getPersistentRDDs.get(id))
      rdd.unpersist(blocking = false)
  }
}
