package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.CellStream
import graft.index.CellGrid

class StreamingSpec extends SparkSuite {

  test("streaming cell counts over a memory stream of image rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val df = input.toDF().toDF("image_id", "x0m", "y0m")
    val counts = CellStream.cellCounts(df, res = 7)
    val q = counts.writeStream.format("memory")
      .queryName("cells").outputMode("complete").start()
    // two images in the same res-7 cell, one in another
    input.addData(("a", 0L, 0L), ("b", 100L, 100L), ("c", 50000L, 0L))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM cells ORDER BY cell")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).sum == 3)
    val cellAB = CellGrid.cellOf(7, 0, 0)
    val packed = CellGrid.ixOf(cellAB) * CellGrid.IxMul + CellGrid.iyOf(cellAB)
    assert(rows.contains((packed, 2L)))
    // incremental update: a fourth image lands in the first cell
    input.addData(("d", 200L, 50L))
    q.processAllAvailable()
    val rows2 = spark.sql("SELECT n_images FROM cells WHERE cell = " + packed)
      .collect().map(_.getLong(0))
    assert(rows2.sameElements(Array(3L)))
    q.stop()
  }

  test("stream-static spatial join == batch join on the same rows (append, stateless)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val polys = graft.gen.Synth.polygonsRange(spark, 30).cache()
    // deterministic image rows, synth footprint formulas
    val rows = (0L until 400L).map { k =>
      val w = 16 + (k * 13) % 240; val h = 16 + (k * 29) % 240
      val x0 = (k * 7919) % 300000 - 150000
      val y0 = (k * 104729) % 120000 - 60000
      (s"img-$k", k, x0, y0, x0 + w * 4, y0 + h * 4)
    }
    val input = MemoryStream[(String, Long, Long, Long, Long, Long)]
    val df = input.toDF().toDF("image_id", "k", "x0m", "y0m", "x1m", "y1m")
    val joined = CellStream.spatialJoinStream(df, polys)
      .select("image_id", "fid")
    val q = joined.writeStream.format("memory")
      .queryName("sjoin").outputMode("append").start()
    // feed in two micro-batches; each image's matches must appear once
    input.addData(rows.take(250): _*)
    q.processAllAvailable()
    input.addData(rows.drop(250): _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT image_id, fid FROM sjoin")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    q.stop()
    val batch = graft.ops.SpatialJoin.joinRects(
        rows.toDF("image_id", "k", "x0m", "y0m", "x1m", "y1m"), polys)
      .select("image_id", "fid")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(batch.nonEmpty, "fixture produced no joins")
    // exact multiset equality: stateless append emits each pair once
    assert(streamed.sorted.toSeq == batch.sorted.toSeq)
  }

  test("windowed cell counts: watermark closes windows and drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val df = input.toDF().toDF("ts", "x0m", "y0m")
    val counts = CellStream.windowedCellCounts(df, res = 7,
      window = "10 seconds", lateness = "5 seconds")
    val q = counts.writeStream.format("memory")
      .queryName("wcells").outputMode("append").start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // three events in window [0,10) of one cell
    input.addData((t(1), 0L, 0L), (t(3), 100L, 0L), (t(8), 0L, 100L))
    q.processAllAvailable()
    // nothing appended yet: watermark (max 8s − 5s = 3s) < window end
    assert(spark.sql("SELECT * FROM wcells").count() == 0)
    // an event far in the future advances the watermark past 10s and
    // CLOSES the first window
    input.addData((t(60), 0L, 0L))
    q.processAllAvailable()
    val closed = spark.sql("SELECT n_images FROM wcells").collect()
      .map(_.getLong(0))
    assert(closed.sameElements(Array(3L)), closed.mkString(","))
    // a LATE event for the closed window (beyond the watermark) is
    // dropped: no new append row for [0,10)
    input.addData((t(2), 0L, 0L))
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM wcells").collect()(0).getLong(0)
      == 1)
    q.stop()
  }

  test("mapGroupsWithState: per-cell running state survives micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = CellStream.cellRunningState(input.toDS())
    val q = out.toDF("cell", "n", "first_ts", "last_ts").writeStream
      .format("memory").queryName("cellstate").outputMode("update").start()
    input.addData((7L, 100L), (7L, 50L), (9L, 10L))
    q.processAllAvailable()
    input.addData((7L, 200L))
    q.processAllAvailable()
    // update mode emits one row per touched key per batch; the LAST
    // emission per key carries the accumulated state
    val last = spark.sql(
      """SELECT cell, n, first_ts, last_ts FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC)
        |    AS rk FROM cellstate) WHERE rk = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(last(7L) == ((3L, 50L, 200L)), s"state for cell 7: ${last(7L)}")
    assert(last(9L) == ((1L, 10L, 10L)))
    q.stop()
  }

  test("sinkToLineage: exactly-once epochs, replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_sink").toString
    val input = MemoryStream[(String, Long)]
    val df = input.toDF().toDF("image_id", "v")
    val q = CellStream.sinkToLineage(df, root, "image_id", 4)
      .outputMode("append").start()
    input.addData(("a", 1L), ("b", 2L), ("c", 3L))
    q.processAllAvailable()
    input.addData(("d", 4L))
    q.processAllAvailable()
    q.stop()
    val back = CellStream.readLineageEpochs(spark, root)
    assert(back.count() == 4)
    assert(back.select("image_id").distinct().count() == 4)
    // crash-replay simulation: re-writing epoch 0's batch is a NO-OP
    // (all its buckets are committed) — exactly-once holds
    val epoch0 = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("image_id", "v")
    assert(graft.table.Lineage.writeResumable(spark, epoch0,
      s"$root/epoch=0", "image_id", 4) == 0)
    assert(CellStream.readLineageEpochs(spark, root).count() == 4)
  }

  test("nearDupStream: delta×history pairs per epoch, corpus accumulates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_neardup_stream").toString
    val (docsR, bandsR, pairsR) =
      (s"$base/docs", s"$base/bands", s"$base/pairs")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = CellStream.nearDupStream(df, docsR, bandsR, pairsR,
      threshold = 0.8).outputMode("append").start()
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    // epoch 0: two docs (one pair of near-dups WITHIN the batch — not
    // this operator's axis, must emit nothing: no history yet)
    input.addData((1L, txt), (2L, "completely different words here"))
    q.processAllAvailable()
    assert(CellStream.lineageEpochs(pairsR).isEmpty,
      "first batch has no history - no pairs epoch")
    // epoch 1: doc 3 duplicates doc 1 from history; doc 4 is novel
    input.addData((3L, txt), (4L, "yet another unrelated document text"))
    q.processAllAvailable()
    // epoch 2: doc 5 duplicates both 1 (epoch 0) and 3 (epoch 1)
    input.addData((5L, txt))
    q.processAllAvailable()
    q.stop()
    val pairs = CellStream.readLineageEpochs(spark, pairsR)
      .select("id_new", "id_old").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 1L), (5L, 1L), (5L, 3L)), s"got $pairs")
    // corpus accumulated: every doc + its bands are on disk as epochs
    assert(CellStream.readLineageEpochs(spark, docsR).count() == 5)
    assert(CellStream.readLineageEpochs(spark, bandsR)
      .select("doc_id").distinct().count() == 5)
  }

  test("streaming dedup: first arrival emits, replays within watermark suppressed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val out = CellStream.dedupStream(df, lateness = "10 seconds")
    val q = out.writeStream.format("memory")
      .queryName("dedup").outputMode("append").start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // doc 1 and its exact duplicate doc 2 in one batch; distinct doc 3
    input.addData((t(1), 1L, "alpha beta"), (t(2), 2L, "alpha beta"),
      (t(3), 3L, "gamma delta"))
    q.processAllAvailable()
    // replay of the same content in a LATER batch, still inside the
    // watermark: suppressed by the keyed state
    input.addData((t(5), 4L, "alpha beta"))
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM dedup ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    // one representative per hash: doc 1 OR 2 for "alpha beta"
    // (within-batch winner is arbitrary — documented), doc 3, and
    // NEVER the later-batch replay doc 4
    assert(ids.size == 2, s"got $ids")
    assert(ids.contains(3L) && !ids.contains(4L), s"got $ids")
    assert(ids.exists(i => i == 1L || i == 2L), s"got $ids")
    q.stop()
  }

  test("streaming image dedup: phash-keyed, replay suppressed, no decode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "image_id", "phash")
    val out = CellStream.dedupImageStream(df, lateness = "10 seconds")
    val q = out.writeStream.format("memory")
      .queryName("imgdedup").outputMode("append").start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    input.addData((t(1), "im-a", 42L), (t(2), "im-b", 42L),
      (t(3), "im-c", 7L))
    q.processAllAvailable()
    input.addData((t(5), "im-d", 42L)) // later-batch replay, in watermark
    q.processAllAvailable()
    val ids = spark.sql("SELECT image_id FROM imgdedup ORDER BY image_id")
      .collect().map(_.getString(0)).toSeq
    assert(ids.size == 2, s"got $ids")
    assert(ids.contains("im-c") && !ids.contains("im-d"), s"got $ids")
    assert(ids.exists(i => i == "im-a" || i == "im-b"), s"got $ids")
    q.stop()
  }

  test("streaming audio dedup: fingerprint computed at ingest, " +
       "re-uploaded payload suppressed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Array[Byte])]
    val df = input.toDF().toDF("ts", "audio_id", "bytes")
    val out = CellStream.dedupAudioStream(df, lateness = "10 seconds")
    val q = out.writeStream.format("memory")
      .queryName("auddedup").outputMode("append").start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val b1 = graft.gen.Synth.encodeAudio(1L)
    val b7 = graft.gen.Synth.encodeAudio(7L)
    input.addData((t(1), "au-a", b1), (t(2), "au-b", b1), // same payload
      (t(3), "au-c", b7))
    q.processAllAvailable()
    input.addData((t(5), "au-d", b1)) // later-batch re-upload
    q.processAllAvailable()
    val rows = spark.sql("SELECT audio_id, fp FROM auddedup ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ids = rows.map(_._1).toSeq
    assert(ids.size == 2, s"got $ids")
    assert(ids.contains("au-c") && !ids.contains("au-d"), s"got $ids")
    assert(ids.exists(i => i == "au-a" || i == "au-b"), s"got $ids")
    // the ingest projection really computed the batch fingerprint
    val fpMap = rows.toMap
    val expected = graft.ops.Audio.fingerprints(
      graft.gen.Synth.audioWithBytes(spark, "/root/testdata/sf0.001",
        _.where(org.apache.spark.sql.functions.col("k") === 7)))
      .collect().head.getLong(1)
    assert(fpMap("au-c") == expected)
    q.stop()
  }

  test("ewmaBurstState: burst flags match the batch EWMA rule across " +
    "micro-batches, gap days decay, late days are ignored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (cell, day, x)
    val out = CellStream.ewmaBurstState(input.toDS())
    val q = out.toDF("cell", "day", "x", "anom").writeStream
      .format("memory").queryName("ewmastate").outputMode("update").start()
    // batch 1: steady 4/day for days 0..3 on cell 5
    input.addData((5L, 0L, 4L), (5L, 1L, 4L), (5L, 2L, 4L), (5L, 3L, 4L))
    q.processAllAvailable()
    // batch 2: the spike (day 4, x=40) + a LATE day-2 revision (ignored)
    input.addData((5L, 4L, 40L), (5L, 2L, 99L))
    q.processAllAvailable()
    val rows = spark.sql(
        "SELECT day, x, anom FROM ewmastate WHERE day >= 0 ORDER BY day")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // flatMapGroupsWithState emits EVERY processed cell-day (ADVICE
    // r5 fix): batch 1 emits days 0..3 — day 0 flagged (first day,
    // T=0), days 1..3 steady (xw = 4·2^i ≤ 6·T); batch 2 emits the
    // spike day 4 flagged (xw = 640 > 6·T = 360). The late day-2
    // revision must NOT re-emit
    assert(rows.toSeq === Seq((0L, 4L, 1L), (1L, 4L, 0L), (2L, 4L, 0L),
      (3L, 4L, 0L), (4L, 40L, 1L)), rows.mkString(","))
    assert(!rows.exists(r => r._1 == 2L && r._2 == 99L))
    // zero-history convention: very first day of a cell is flagged
    val input2 = MemoryStream[(Long, Long, Long)]
    val out2 = CellStream.ewmaBurstState(input2.toDS())
    val q2 = out2.toDF("cell", "day", "x", "anom").writeStream
      .format("memory").queryName("ewmastate2").outputMode("update").start()
    input2.addData((9L, 10L, 8L))
    q2.processAllAvailable()
    // gap decay: day 10 x=8 (s=4), then day 13 x=3: s_pre = 8·2^{-4}
    // ... T tracking: xw = 3·2^3 = 24 > 6·T(=8)? T after day10 = 8;
    // at day 13, xw = 3·8 = 24, 6·T = 48 -> not flagged
    input2.addData((9L, 13L, 3L))
    q2.processAllAvailable()
    val r2 = spark.sql("SELECT day, anom FROM ewmastate2 ORDER BY day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r2.toSeq === Seq((10L, 1L), (13L, 0L)), r2.mkString(","))
    q.stop(); q2.stop()
  }
}
