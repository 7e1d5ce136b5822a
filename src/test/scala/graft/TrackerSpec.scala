package graft

import graft.ops.Boxes

/** IoU-tracker contract on hand-built scenarios: chain linking,
  * mid-sequence birth/death, mutual-best disambiguation, and the
  * chain invariant (≤1 incoming and ≤1 outgoing link per detection).
  */
class TrackerSpec extends SparkSuite {

  private def det(rows: Seq[(String, Long, Long, Long, Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("vid", "f", "box_id", "x1", "y1", "x2", "y2")
  }

  test("static object tracks across all frames; drifting object " +
    "born at f=1 dies at f=2; singleton stays its own track") {
    val d = det(Seq(
      // obj A: static 100x100 box, frames 0..3
      ("v", 0L, 0L, 0L, 0L, 100L, 100L),
      ("v", 1L, 0L, 0L, 0L, 100L, 100L),
      ("v", 2L, 0L, 0L, 0L, 100L, 100L),
      ("v", 3L, 0L, 0L, 0L, 100L, 100L),
      // obj B: born f=1, drifts +10px/frame, last seen f=2
      ("v", 1L, 1L, 1000L, 1000L, 1100L, 1100L),
      ("v", 2L, 1L, 1010L, 1010L, 1110L, 1110L),
      // obj C: frame 0 only
      ("v", 0L, 2L, 3000L, 3000L, 3100L, 3100L)))
    val out = Boxes.iouTracks(d, maxFrame = 4).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    // A's four detections all label back to (0, 0)
    for (f <- 0L to 3L) assert(out(("v", f, 0L)) == (0L, 0L))
    // B's two detections label back to its birth (1, 1)
    assert(out(("v", 1L, 1L)) == (1L, 1L))
    assert(out(("v", 2L, 1L)) == (1L, 1L))
    // C is its own track
    assert(out(("v", 0L, 2L)) == (0L, 2L))
    assert(out.size == 7)
  }

  test("mutual-best disambiguation: two same-frame candidates over " +
    "one predecessor — only the argmax links, the other births") {
    val d = det(Seq(
      ("v", 0L, 0L, 0L, 0L, 100L, 100L),
      ("v", 1L, 0L, 0L, 0L, 100L, 100L),     // exact continuation
      ("v", 1L, 1L, 5L, 0L, 105L, 100L)))    // near-dup candidate
    val out = Boxes.iouTracks(d, maxFrame = 2).collect()
      .map(r => ((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4))))
      .toMap
    assert(out((1L, 0L)) == (0L, 0L), "argmax candidate joins the track")
    assert(out((1L, 1L)) == (1L, 1L), "loser births a new track")
  }

  test("videos are independent; below-threshold IoU never links") {
    val d = det(Seq(
      ("a", 0L, 0L, 0L, 0L, 100L, 100L),
      ("b", 1L, 0L, 0L, 0L, 100L, 100L),     // same box, other video
      ("a", 1L, 0L, 60L, 0L, 160L, 100L)))   // IoU = 40/160 = 0.25 < τ
    val out = Boxes.iouTracks(d, maxFrame = 2).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", 1L, 0L)) == (1L, 0L), "0.25 IoU must not link")
    assert(out(("b", 1L, 0L)) == (1L, 0L))
  }

  test("chain invariant on a random fixture: every origin is a real " +
    "detection and track frames are contiguous") {
    val rnd = new scala.util.Random(42)
    val rows = for {
      v <- Seq("x", "y"); f <- 0L to 3L; o <- 0L to 4L
    } yield {
      val x = rnd.nextInt(2000).toLong + f * (rnd.nextInt(21) - 10)
      val y = rnd.nextInt(2000).toLong
      (v, f, o, x, y, x + 300L, y + 300L)
    }
    val d = det(rows)
    val out = Boxes.iouTracks(d, maxFrame = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == rows.length)
    val dets = rows.map(r => (r._1, r._2, r._3)).toSet
    out.foreach { case (v, _, _, tf, tb) =>
      assert(dets.contains((v, tf, tb)), "origin must be a detection")
    }
    // per track: at most one member per frame (mutual-best is 1:1)
    out.groupBy(t => (t._1, t._4, t._5)).foreach { case (_, ms) =>
      val fs = ms.map(_._2).sorted
      assert(fs.distinct.length == fs.length, "one detection per frame")
      assert(fs.zip(fs.tail).forall { case (a, b) => b == a + 1 },
        "track frames contiguous")
    }
  }
}
