package graft

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.ops.Audio

/** Audio-modality specs: PCM codec round trip, kernel-vs-brute cross
  * checks for every clip op, relational VAD islands vs a sequential
  * scan, and the constructed-twin near-duplicate guarantee. */
class AudioSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private val Ks = Seq(1L, 7L, 40L, 123L)

  private def samples(k: Long): Array[Int] =
    Array.tabulate(Synth.audNOf(k).toInt)(i => Synth.audioSample(k, i))

  test("encodeAudio ∘ decodePcm is the sample formula (i16le round trip)") {
    for (k <- Ks) {
      val dec = Audio.decodePcm(Synth.encodeAudio(k))
      assert(dec.toSeq == samples(k).toSeq, s"clip $k")
      // structural sanity: leading silence, a voiced body, soft frames
      assert(dec.take(Synth.audLeadOf(k).toInt).forall(_ == 0))
      assert(dec.exists(_ != 0))
    }
  }

  test("clipStats kernel matches a brute per-sample scan") {
    val got = Audio.clipStats(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5))).toMap
    for (k <- Ks) {
      val s = samples(k)
      val zc = (1 until s.length).count(i => s(i - 1).toLong * s(i) < 0)
      val exp = (s.length.toLong,
        s.map(v => v.toLong * v).sum,
        s.map(v => math.abs(v).toLong).max,
        zc.toLong,
        s.count(_ == 0).toLong)
      assert(got(s"aud-$k") == exp, s"clip $k")
    }
  }

  test("trimBounds: first/last non-silent sample, inclusive length") {
    val got = Audio.trimBounds(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for (k <- Ks) {
      val s = samples(k)
      val first = s.indexWhere(_ != 0).toLong
      val last = s.lastIndexWhere(_ != 0).toLong
      assert(got(s"aud-$k") == ((first, last, last - first + 1)), s"clip $k")
      // trim really removes the synthesized lead/tail silence
      assert(first >= Synth.audLeadOf(k))
    }
  }

  test("resampleTo: decimation checksum matches brute (both rates)") {
    val got = Audio.resampleTo(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*))))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    for (k <- Ks) {
      val s = samples(k)
      val d = (Synth.audSrOf(k) / 8000L).toInt
      val kept = s.indices.filter(_ % d == 0)
      val cs = kept.zipWithIndex
        .map { case (i, j) => s(i).toLong * ((j % 97) + 1) }.sum
      assert(got(s"aud-$k") == ((kept.length.toLong, cs)),
        s"clip $k (d=$d)")
    }
  }

  test("frameEnergies + vadSegments: islands match a sequential scan") {
    val frames = Audio.frameEnergies(Synth.audioWithBytes(spark, sf,
      _.where(col("k").isin(Ks: _*))))
    val gotF = frames.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gotSeg = Audio.vadSegments(frames).collect()
      .groupBy(_.getString(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq }
    for (k <- Ks) {
      val s = samples(k)
      val nf = 1 + (s.length - Audio.FrameLen) / Audio.FrameHop
      val e = (0 until nf).map { fr =>
        (fr * Audio.FrameHop until fr * Audio.FrameHop + Audio.FrameLen)
          .map(i => s(i).toLong * s(i)).sum
      }
      for (fr <- 0 until nf)
        assert(gotF((s"aud-$k", fr.toLong)) == e(fr), s"clip $k frame $fr")
      // brute islands over the voiced-frame mask
      val voiced = e.map(_ >= Audio.VadEnergyMin)
      val segs = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var fr = 0
      while (fr < nf) {
        if (voiced(fr)) {
          val f0 = fr
          while (fr < nf && voiced(fr)) fr += 1
          segs += ((f0.toLong, (fr - 1).toLong, (fr - f0).toLong))
        } else fr += 1
      }
      assert(gotSeg.getOrElse(s"aud-$k", Seq.empty) == segs.toSeq,
        s"clip $k")
      assert(segs.nonEmpty, s"clip $k should have voiced segments")
    }
  }

  test("fingerprints: span-energy-delta packing matches brute; " +
       "twin lands within Hamming 3 of its source") {
    val fps = Audio.fingerprints(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*)), twins = true))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (k <- Ks) {
      val s = samples(k)
      val e = new Array[Long](Audio.FpSpans)
      for (i <- s.indices)
        e((i.toLong * Audio.FpSpans / s.length).toInt) += s(i).toLong * s(i)
      var exp = 0L
      for (j <- 1 until Audio.FpSpans)
        if (e(j) > e(j - 1)) exp |= 1L << (j - 1)
      assert(fps(s"aud-$k") == exp, s"clip $k")
      assert(exp >= 0L, "fp must stay positive (62-bit packing)")
    }
    // k = 40 has a twin (k % 40 == 0); the +1-on-~n/997-samples
    // perturbation must keep the fingerprint within the banded join's
    // full-recall radius
    val d = java.lang.Long.bitCount(fps("aud-40") ^ fps("aud-40-tw"))
    assert(d <= 3, s"twin distance $d")
    // and nearDup must surface exactly that pair among these clips
    val pairs = Audio.nearDup(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*)), twins = true))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.contains(("aud-40", "aud-40-tw")))
  }

  test("pitchLag: autocorrelation argmax matches brute (ties → lowest lag)") {
    val got = Audio.pitchLag(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    for (k <- Ks) {
      val s = samples(k)
      val rs = Audio.PitchLags.map { tau =>
        tau.toLong -> (0 until math.max(0, s.length - tau))
          .map(i => s(i).toLong * s(i + tau)).sum
      }
      val (bl, br) = rs.sortBy { case (t, r) => (-r, t) }.head
      assert(got(s"aud-$k") == ((bl, br)), s"clip $k")
    }
  }

  test("normalizePeak: exact floor-div checksum matches brute") {
    val got = Audio.normalizePeak(Synth.audioWithBytes(spark, sf,
        _.where(col("k").isin(Ks: _*))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    for (k <- Ks) {
      val s = samples(k)
      val ma = s.map(v => math.abs(v).toLong).max
      val cs = s.indices.map(i =>
        Math.floorDiv(s(i).toLong * 10000L, ma) * ((i % 101) + 1)).sum
      assert(got(s"aud-$k") == ((ma, cs)), s"clip $k")
      // negatives exist, so floorDiv-vs-truncate is actually exercised
      assert(s.exists(_ < 0), s"clip $k")
    }
  }

  test("packWindows: per-shard running offsets match a sequential pack") {
    val rows = Audio.packWindows(Synth.audio(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      var off = 0L
      rs.sortBy(_._1).foreach { case (id, _, n, start, fw, lw) =>
        assert(start == off, s"$id in shard $shard")
        assert(fw == off / 4000 && lw == (off + n - 1) / 4000, id)
        off += n
      }
    }
    assert(rows.map(_._2).distinct.length > 1, "md5 lanes actually split")
  }

  test("q_curate_audio: survivors match a full brute replay of all " +
       "five stages") {
    val out = SparkEntry.queries("q_curate_audio")(spark, sf)
      .collect().map(_.getString(0)).toSet
    val ks = (1 to 150).filter(_ % 3 == 1).map(_.toLong)
    val clips: Seq[(String, Array[Int])] = ks.flatMap { k =>
      val base = samples(k)
      val tw =
        if (k % 40 == 0)
          Seq(s"aud-$k-tw" -> Array.tabulate(base.length)(i =>
            Synth.audioTwinSample(k, i)))
        else Seq.empty
      Seq(s"aud-$k" -> base) ++ tw
    }
    def fpOf(s: Array[Int]): Long = {
      val e = new Array[Long](Audio.FpSpans)
      for (i <- s.indices)
        e((i.toLong * Audio.FpSpans / s.length).toInt) += s(i).toLong * s(i)
      (1 until Audio.FpSpans).foldLeft(0L) { (acc, j) =>
        if (e(j) > e(j - 1)) acc | (1L << (j - 1)) else acc }
    }
    val fps = clips.map { case (id, s) => id -> fpOf(s) }.toMap
    val dupIds = (for {
      (a, _) <- clips; (b, _) <- clips
      if a < b && java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
    } yield b).toSet
    val expected = clips.filter { case (id, s) =>
      val nSil = s.count(_ == 0)
      val maxAbs = s.map(v => math.abs(v).toLong).max
      val nf = 1 + (s.length - Audio.FrameLen) / Audio.FrameHop
      val e = (0 until nf).map { fr =>
        (fr * Audio.FrameHop until fr * Audio.FrameHop + Audio.FrameLen)
          .map(i => s(i).toLong * s(i)).sum }
      val nfv = e.count(_ >= Audio.VadEnergyMin)
      val bl = Audio.PitchLags.map { tau =>
        tau.toLong -> (0 until math.max(0, s.length - tau))
          .map(i => s(i).toLong * s(i + tau)).sum
      }.sortBy { case (t, r) => (-r, t) }.head._1
      nSil * 5 <= s.length && maxAbs >= 500 &&
        nfv * 3 >= nf * 2 && bl <= 240 && !dupIds(id)
    }.map(_._1).toSet
    assert(out == expected)
    assert(expected.nonEmpty && expected.size < clips.size,
      "the pipeline must actually discriminate")
  }
}
