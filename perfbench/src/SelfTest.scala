package perfbench

import graft.gen.Synth
import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: each result check passes on a correct
  * result and counts a corrupted one (gate fingerprint, join pair count,
  * decoded pixel, caption, phash) as a failed operation. */
object SelfTest {
  def run(spark: SparkSession, root: Path, tmp: Path, cpus: Int): Int = {
    var bad = 0
    def expect(what: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      if (!cond) bad += 1
    }
    val tally = new Tally
    val c = new Ctx(spark, 7L, cpus, root, tmp, tally)
    /** Runs `f` and tells whether it added exactly `n` failed operations. */
    def failsBy(n: Long)(f: => Any): Boolean = { val f0 = tally.failed; f; tally.failed - f0 == n }

    val records = GateSuite.load(root.resolve(Main.FingerprintFile))
    val gates = new GateSuite(c, records)
    graft.expr.GraftFunctions.register(spark)
    val dir = root.resolve("perfbench/data/sf0.001").toString
    for (g <- Seq("q_spatial_join", "q_band_stats", "q_kmeans_emb")) {
      val fp = Checks.fingerprint(GateSuite.run(spark, dir, g))
      expect(s"$g matches its recorded fingerprint", gates.matches(g, fp))
      expect(s"$g with one row more fails", !gates.matches(g, (fp._1 + 1, fp._2)))
      if (records(g).hash.nonEmpty) expect(s"$g with another row hash fails", !gates.matches(g, (fp._1, fp._2 ^ 1L)))
    }

    val jt = new JoinTile(c, n = 400000L)
    jt.setup()
    val r = jt.result()
    expect("join_tile: a correct pass counts no failure", failsBy(0)(jt.passOk(r)))
    expect("join_tile: one subsample pair less counts a failure", failsBy(1)(jt.passOk(r.copy(_3 = r._3 - 1))))
    expect("join_tile: a changed Σth counts a failure", failsBy(1)(jt.passOk(r.copy(_2 = r._2 + 1))))

    val sj = new ShuffleJoin(c, n = 100000L, polygons = 20000L)
    sj.setup()
    for (leg <- sj.Legs) {
      val p = sj.result(leg)
      expect(s"shuffle_join.$leg: a correct pass counts no failure", failsBy(0)(sj.passOk(leg, p)))
      expect(s"shuffle_join.$leg: one pair more counts a failure", failsBy(1)(sj.passOk(leg, (p._1 + 1, p._2 + 1))))
    }
    // the skew-split count reads the final adaptive plan: with the skew
    // thresholds lowered, adaptive execution splits the hot cell's partition
    val skewConf = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k")
    skewConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val splits = try sj.joinLeg("skewed")._2 finally skewConf.keys.foreach(spark.conf.unset)
    expect(s"shuffle_join: a skew split of the hot partition shows in the plan ($splits)", splits > 0)

    def roundTripFails(what: String, k: Long, f: Array[Byte] => Array[Byte], caption: String, phash: Long): Unit = {
      val bytes = f(Synth.encodeImage(k))
      val why = Checks.roundTrip(k, bytes, Synth.wOf(k), Synth.hOf(k), Synth.fmtOf(k), caption, phash)
      expect(s"payload: $what counts a failure (${why.getOrElse("accepted")})",
        failsBy(1)(tally.check(s"self-test $what", why.isEmpty)))
    }
    for (f <- Synth.Formats.indices) {
      val k = 6000L + f
      val ph = graft.core.Codec.aHash(Synth.planes(k)(0), Synth.wOf(k), Synth.hOf(k))
      val why = Checks.roundTrip(k, Synth.encodeImage(k), Synth.wOf(k), Synth.hOf(k), Synth.fmtOf(k),
        Inputs.caption(k), ph)
      expect(s"payload: intact ${Synth.fmtOf(k)} image passes the round trip", why.isEmpty)
      if (Synth.fmtOf(k).startsWith("raw-"))
        roundTripFails(s"one changed ${Synth.fmtOf(k)} pixel byte", k,
          b => { val x = b.clone(); x(x.length / 2) = (x(x.length / 2) ^ 0x10).toByte; x }, Inputs.caption(k), ph)
      roundTripFails(s"a changed caption (${Synth.fmtOf(k)})", k, identity, Inputs.caption(k) + "!", ph)
      roundTripFails(s"a changed phash (${Synth.fmtOf(k)})", k, identity, Inputs.caption(k), ph ^ 1L)
    }
    val jpg = (6000L until 6006L).find(k => Synth.fmtOf(k) == "jpg").get
    val noisy = graft.core.Codec.encode(Synth.planes(jpg).map(_.zipWithIndex.map { case (v, i) =>
      if (v.isNaN) v else math.max(1.0, math.min(255.0, v + (if (i % 2 == 0) 30 else -30))) }),
      Synth.wOf(jpg), Synth.hOf(jpg), "jpg")
    roundTripFails("a jpg below 40 dB PSNR", jpg, _ => noisy, Inputs.caption(jpg),
      graft.core.Codec.aHash(Synth.planes(jpg)(0), Synth.wOf(jpg), Synth.hOf(jpg)))

    println(if (bad == 0) "selftest: all checks behaved" else s"selftest: $bad checks misbehaved")
    if (bad == 0) 0 else 1
  }
}
