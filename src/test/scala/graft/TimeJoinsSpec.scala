package graft

import org.apache.spark.sql.functions._
import graft.ops.TimeJoins

/** As-of and range joins vs brute-force evaluation on random data —
  * the bucketed/windowed plans must be RESULT-identical to the naive
  * quadratic definition. */
class TimeJoinsSpec extends SparkSuite {

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000)

  // random (id, key, ts) rows; timestamps at millisecond grain
  private def rows(n: Int, seed: Int): Seq[(Long, Long, java.sql.Timestamp)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, ts(rnd.nextInt(1000000) * 1000L)))
  }

  test("asofJoin matches brute-force latest-preceding per key") {
    import spark.implicits._
    val lRows = rows(120, 1)
    val rRows = rows(80, 2)
    val l = lRows.toDF("event_id", "user_id", "ts")
    val r = rRows.toDF("view_id", "user_id", "ts")
    val got = TimeJoins.asofJoin(l, r, "user_id", "ts", "event_id", "view_id")
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    val want = lRows.flatMap { case (lid, k, lt) =>
      val cands = rRows.filter(rr => rr._2 == k && !rr._3.after(lt))
      if (cands.isEmpty) None
      else {
        // greatest ts, then greatest id (the documented tie-break)
        val best = cands.maxBy(rr => (rr._3.getTime, rr._1))
        Some(lid -> best._1)
      }
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("rangeJoin matches brute-force interval filter, no duplicates") {
    import spark.implicits._
    val lRows = rows(150, 3)
    val rRows = rows(150, 4)
    val l = lRows.toDF("event_id", "user_id", "ts")
    val r = rRows.toDF("event_id", "user_id", "ts")
    val gap = 120L // seconds
    val gotSeq = TimeJoins.rangeJoin(l, r, "user_id", "ts",
        "event_id", "event_id", gap)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(gotSeq.size == gotSeq.distinct.size, "each pair exactly once")
    val want = (for {
      (lid, lk, lt) <- lRows
      (rid, rk, rt) <- rRows
      if lk == rk
      d = (rt.getTime - lt.getTime) * 1000L
      if d >= 0 && d <= gap * 1000000L
    } yield (lid, rid)).toSet
    assert(gotSeq.toSet === want)
    assert(want.nonEmpty)
  }

  test("funnel matches brute-force greedy-earliest chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val types = Seq("a", "b", "c")
    val evRows = (0 until 600).map { i =>
      (i.toLong, rnd.nextInt(40).toLong,
        ts(rnd.nextInt(1000000) * 1000L), types(rnd.nextInt(3)))
    }
    val ev = evRows.toDF("event_id", "user_id", "ts", "event_type")
    val gap = 200000000L // 200 s in micros
    val got = TimeJoins.funnel(ev, "user_id", "ts", "event_type",
        Seq("a", "b", "c"), gap)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getLong(4))).toMap
    // brute force per user
    val byUser = evRows.groupBy(_._2)
    val want = byUser.flatMap { case (u, rs) =>
      def stepMin(t: String, lo: Long): Option[Long] = {
        val c = rs.filter(r => r._4 == t &&
          r._3.getTime * 1000L > lo && r._3.getTime * 1000L <= lo + gap)
        if (c.isEmpty) None else Some(c.map(_._3.getTime * 1000L).min)
      }
      val t1 = {
        val a = rs.filter(_._4 == "a").map(_._3.getTime * 1000L)
        if (a.isEmpty) None else Some(a.min)
      }
      t1.map { v1 =>
        val t2 = stepMin("b", v1)
        val t3 = t2.flatMap(stepMin("c", _))
        u -> ((Some(v1): Option[Any], t2: Option[Any], t3: Option[Any],
          1L + t2.size + t3.size))
      }
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (u, w) => assert(got(u) == w, s"user $u") }
    // non-trivial: all three depths occur
    assert(got.values.map(_._4).toSet == Set(1L, 2L, 3L))
  }

  test("eventTransitions: counts and scaled probabilities are exact " +
    "on a hand sequence; last events emit nothing") {
    import spark.implicits._
    // user 1: A,B,A,C  -> A->B, B->A, A->C ; user 2: B,B -> B->B
    val ev = Seq(
      (1L, 10L, ts(1000000L), "A"), (1L, 11L, ts(2000000L), "B"),
      (1L, 12L, ts(3000000L), "A"), (1L, 13L, ts(4000000L), "C"),
      (2L, 20L, ts(1000000L), "B"), (2L, 21L, ts(2000000L), "B"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = graft.ops.TimeJoins.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      ("A", "B") -> ((1L, 500000L)), ("A", "C") -> ((1L, 500000L)),
      ("B", "A") -> ((1L, 500000L)), ("B", "B") -> ((1L, 500000L))))
    // equal-ts tie inside one user breaks on event_id: (X id 30) then
    // (Y id 31) at the same ts is X->Y, never Y->X
    val tie = Seq((3L, 30L, ts(5000000L), "X"), (3L, 31L, ts(5000000L), "Y"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val g2 = graft.ops.TimeJoins.eventTransitions(tie).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(g2.toSeq === Seq(("X", "Y")))
  }
}
