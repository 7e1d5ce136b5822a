package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.{OracleCte, Synth}
import graft.gen.OracleCte.{Md5BucketSql, audio => Aud}
import graft.ops.Audio

/** The audio gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object AudioGates {

  private val SaudCte = "saud AS (SELECT * FROM aud WHERE k % 3 = 1)"
  private val SaudFrCte = "saud AS (SELECT * FROM aud WHERE k % 12 = 1)"

  /** Overlapped frame energies (len 160, hop 80) from the per-sample
    * replay: fe(audio_id, fr, energy). Requires saud + asamp. */
  private val AudFrameCte =
    """afr AS (
      |  SELECT a.audio_id, f.fr
      |  FROM saud a CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST((a.n - 160)//80 AS INT))) AS fr) f),
      |fe AS (SELECT r.audio_id, r.fr,
      |         CAST(SUM(p.s*p.s) AS BIGINT) AS energy
      |       FROM afr r JOIN asamp p ON p.audio_id = r.audio_id
      |         AND p.i >= r.fr*80 AND p.i < r.fr*80 + 160
      |       GROUP BY 1, 2)""".stripMargin

  /** Subset + constructed noisy twins (k % 40 = 0), with the `tw`
    * flag audioGenTw needs. */
  private val SaudTwCte =
    """saud AS (SELECT *, FALSE AS tw FROM aud WHERE k % 3 = 1
      |         UNION ALL
      |         SELECT k, audio_id || '-tw', sr, n, lead, tail, f, m,
      |                speaker, lang, TRUE
      |         FROM aud WHERE k % 3 = 1 AND k % 40 = 0)""".stripMargin

  /** Autocorrelation over the fixed lag set → one best (lag, r) per
    * clip: apt(audio_id, best_lag, r_best). Requires saud + asamp. */
  private val AudPitchCte =
    s"""alags AS (SELECT unnest([${graft.ops.Audio.PitchLags.mkString(",")}])
       |            AS tau),
       |aac AS (SELECT c.audio_id, l.tau,
       |          COALESCE(SUM(p1.s * p2.s), 0) AS r
       |        FROM saud c CROSS JOIN alags l
       |        LEFT JOIN asamp p1 ON p1.audio_id = c.audio_id
       |        LEFT JOIN asamp p2 ON p2.audio_id = p1.audio_id
       |          AND p2.i = p1.i + l.tau
       |        GROUP BY 1, 2),
       |apt AS (SELECT audio_id, CAST(tau AS BIGINT) AS best_lag,
       |          CAST(r AS BIGINT) AS r_best
       |        FROM (SELECT audio_id, tau, r,
       |                ROW_NUMBER() OVER (PARTITION BY audio_id
       |                  ORDER BY r DESC, tau) AS rnk FROM aac)
       |        WHERE rnk = 1)""".stripMargin

  /** Span-energy-delta fingerprint (63 spans → 62 delta bits, packed
    * positive): afp(audio_id, fp). Requires asamp. */
  private val AudFpCte =
    """asp AS (SELECT audio_id, (i*63)//n AS sp, SUM(s*s) AS e
      |        FROM asamp GROUP BY 1, 2),
      |aspd AS (SELECT audio_id, sp, e,
      |           LAG(e) OVER (PARTITION BY audio_id ORDER BY sp) AS pe
      |         FROM asp),
      |afp AS (SELECT audio_id,
      |          CAST(COALESCE(SUM(CASE WHEN pe IS NOT NULL AND e > pe
      |            THEN (CAST(1 AS BIGINT) << CAST(sp-1 AS INT))
      |            ELSE 0 END), 0) AS BIGINT) AS fp
      |        FROM aspd GROUP BY 1)""".stripMargin

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // ---- audio modality (opaque PCM payload + typed metadata; the
    // third leg of the multimodal contract next to images and video —
    // graft.ops.Audio) ----
    Gate("q_audio_meta", (s, dir) =>
      Synth.audio(s, dir)
        .groupBy("sr", "lang")
        .agg(count(lit(1)).as("n_clips"),
          sum(floor(col("n") * 1000 / col("sr"))).as("total_ms"))
        .orderBy("sr", "lang"),
      Some(s"""WITH $Aud
         |SELECT sr, lang, CAST(COUNT(*) AS BIGINT) AS n_clips,
         |       CAST(SUM((n*1000)//sr) AS BIGINT) AS total_ms
         |FROM aud GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Gate("q_audio_stats", (s, dir) =>
      Audio.clipStats(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id"),
      Some(s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen},
         |ad AS (SELECT audio_id, s,
         |         LAG(s) OVER (PARTITION BY audio_id ORDER BY i) AS ps
         |       FROM asamp)
         |SELECT audio_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
         |  CAST(SUM(s*s) AS BIGINT) AS sum_sq,
         |  CAST(MAX(ABS(s)) AS BIGINT) AS max_abs,
         |  CAST(SUM(CASE WHEN ps IS NOT NULL AND ps*s < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
         |  CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_silent
         |FROM ad GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_audio_trim", (s, dir) =>
      Audio.trimBounds(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id"),
      Some(s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen}
         |SELECT audio_id,
         |  CAST(COALESCE(MIN(CASE WHEN s <> 0 THEN i END), -1) AS BIGINT)
         |    AS first_voiced,
         |  CAST(COALESCE(MAX(CASE WHEN s <> 0 THEN i END), -1) AS BIGINT)
         |    AS last_voiced,
         |  CAST(COALESCE(MAX(CASE WHEN s <> 0 THEN i END)
         |    - MIN(CASE WHEN s <> 0 THEN i END) + 1, 0) AS BIGINT)
         |    AS trimmed_n
         |FROM asamp GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_audio_resample", (s, dir) =>
      Audio.resampleTo(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id"),
      Some(s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen}
         |SELECT audio_id, CAST(8000 AS BIGINT) AS out_sr,
         |  CAST(COUNT(*) AS BIGINT) AS out_n,
         |  CAST(SUM(s * (((i // (sr//8000)) % 97) + 1)) AS BIGINT)
         |    AS checksum
         |FROM asamp WHERE i % (sr//8000) = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_audio_frames", (s, dir) =>
      Audio.frameEnergies(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 12 === 1)))
        .orderBy("audio_id", "frame_no"),
      Some(s"""WITH $Aud, $SaudFrCte, ${OracleCte.audioGen}, $AudFrameCte
         |SELECT audio_id, CAST(fr AS BIGINT) AS frame_no, energy
         |FROM fe ORDER BY 1, 2""".stripMargin)),

    Gate("q_audio_vad", (s, dir) =>
      Audio.vadSegments(Audio.frameEnergies(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 12 === 1))))
        .orderBy("audio_id", "seg_no"),
      Some(s"""WITH $Aud, $SaudFrCte, ${OracleCte.audioGen}, $AudFrameCte,
         |av AS (SELECT audio_id, fr FROM fe
         |       WHERE energy >= ${Audio.VadEnergyMin}),
         |ag AS (SELECT audio_id, fr,
         |         fr - ROW_NUMBER() OVER (PARTITION BY audio_id
         |           ORDER BY fr) AS grp
         |       FROM av),
         |asg AS (SELECT audio_id, grp, MIN(fr) AS f0, MAX(fr) AS f1,
         |          COUNT(*) AS nf FROM ag GROUP BY 1, 2)
         |SELECT audio_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY audio_id ORDER BY f0)
         |    AS BIGINT) AS seg_no,
         |  CAST(f0 AS BIGINT) AS f0, CAST(f1 AS BIGINT) AS f1,
         |  CAST(nf AS BIGINT) AS n_frames
         |FROM asg ORDER BY 1, 2""".stripMargin)),

    Gate("q_audio_fingerprint", (s, dir) =>
      Audio.fingerprints(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id"),
      Some(s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen}, $AudFpCte
         |SELECT audio_id, fp FROM afp ORDER BY 1""".stripMargin)),

    Gate("q_audio_neardup", (s, dir) =>
      Audio.nearDup(Synth.audioWithBytes(s, dir,
          _.where(col("k") % 3 === 1), twins = true))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $Aud, $SaudTwCte,
         |${OracleCte.audioGenTw}, $AudFpCte
         |SELECT a.audio_id AS id_a, b.audio_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS dist
         |FROM afp a JOIN afp b ON a.audio_id < b.audio_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY 1, 2""".stripMargin)),

    Gate("q_audio_pitch", (s, dir) =>
      Audio.pitchLag(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 12 === 1)))
        .orderBy("audio_id"),
      Some(s"""WITH $Aud, $SaudFrCte, ${OracleCte.audioGen}, $AudPitchCte
         |SELECT audio_id, best_lag, r_best FROM apt
         |ORDER BY 1""".stripMargin)),

    Gate("q_audio_normalize", (s, dir) =>
      Audio.normalizePeak(
          Synth.audioWithBytes(s, dir, _.where(col("k") % 3 === 1)))
        .orderBy("audio_id"),
      Some(s"""WITH $Aud, $SaudCte, ${OracleCte.audioGen},
         |amx AS (SELECT audio_id, MAX(ABS(s)) AS ma
         |        FROM asamp GROUP BY 1)
         |SELECT p.audio_id, CAST(m.ma AS BIGINT) AS max_abs,
         |  CAST(SUM((CASE WHEN p.s >= 0 THEN (p.s*10000) // m.ma
         |    ELSE -(((-p.s)*10000 + m.ma - 1) // m.ma) END)
         |    * ((p.i % 101) + 1)) AS BIGINT) AS norm_checksum
         |FROM asamp p JOIN amx m ON m.audio_id = p.audio_id
         |GROUP BY 1, m.ma ORDER BY 1""".stripMargin)),

    Gate("q_audio_pack", (s, dir) =>
      Audio.packWindows(Synth.audio(s, dir)).orderBy("audio_id"),
      Some(s"""WITH $Aud,
         |b AS (SELECT audio_id, ${Md5BucketSql("audio_id")} % 8 AS shard,
         |        n FROM aud),
         |c AS (SELECT audio_id, shard, n,
         |  CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY audio_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS samp_start FROM b)
         |SELECT audio_id, CAST(shard AS BIGINT) AS shard, n, samp_start,
         |  CAST(FLOOR(samp_start / 4000.0) AS BIGINT) AS first_win,
         |  CAST(FLOOR((samp_start + n - 1) / 4000.0) AS BIGINT)
         |    AS last_win
         |FROM c ORDER BY audio_id""".stripMargin)),

    // composed 5-stage audio curation (the q_curate / q_curate_images /
    // q_curate_video symmetry for the third modality): signal-stats
    // filter → VAD voiced-coverage floor → pitch plausibility →
    // fingerprint near-dup excision — every stage exact, the oracle
    // replays the whole composition from the per-sample CTE
    Gate("q_curate_audio", (s, dir) => {
      val awb = Synth.audioWithBytes(s, dir,
        _.where(col("k") % 3 === 1), twins = true)
      val s1 = Audio.clipStats(awb)
        .where(col("n_silent") * 5 <= col("n_samples") &&
               col("max_abs") >= 500)
      val fe = Audio.frameEnergies(awb)
      val vv = fe.groupBy("audio_id").agg(
        sum(when(col("energy") >= Audio.VadEnergyMin, 1L)
          .otherwise(0L)).as("nf_voiced"),
        count(lit(1)).as("nf_total"))
      val s2 = s1.join(vv, "audio_id")
        .where(col("nf_voiced") * 3 >= col("nf_total") * 2)
      val s3 = s2.join(Audio.pitchLag(awb), "audio_id")
        .where(col("best_lag") <= 240)
      val dups = Audio.nearDup(awb)
        .select(col("id_b").as("audio_id")).distinct()
      s3.join(dups, Seq("audio_id"), "left_anti")
        .select("audio_id", "n_samples", "sum_sq", "best_lag")
        .orderBy("audio_id")
    },
      Some(s"""WITH $Aud, $SaudTwCte,
         |${OracleCte.audioGenTw},
         |ast AS (SELECT audio_id, COUNT(*) AS n_samples,
         |          SUM(s*s) AS sum_sq, MAX(ABS(s)) AS max_abs,
         |          SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n_silent
         |        FROM asamp GROUP BY 1),
         |$AudFrameCte,
         |avv AS (SELECT audio_id,
         |          SUM(CASE WHEN energy >= ${Audio.VadEnergyMin}
         |            THEN 1 ELSE 0 END) AS nfv,
         |          COUNT(*) AS nft
         |        FROM fe GROUP BY 1),
         |$AudPitchCte, $AudFpCte,
         |adup AS (SELECT b.audio_id FROM afp a JOIN afp b
         |           ON a.audio_id < b.audio_id
         |         WHERE bit_count(xor(a.fp, b.fp)) <= 3)
         |SELECT t.audio_id, CAST(t.n_samples AS BIGINT) AS n_samples,
         |  CAST(t.sum_sq AS BIGINT) AS sum_sq, p.best_lag
         |FROM ast t JOIN avv v USING (audio_id)
         |  JOIN apt p USING (audio_id)
         |WHERE t.n_silent*5 <= t.n_samples AND t.max_abs >= 500
         |  AND v.nfv*3 >= v.nft*2 AND p.best_lag <= 240
         |  AND t.audio_id NOT IN (SELECT audio_id FROM adup)
         |ORDER BY 1""".stripMargin))
  )
}
