package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.{OracleCte, Synth}
import graft.gen.OracleCte.{ClassifyCtes, D8Cte, DemCte, DemEpochPairCte,
  Md5BucketSql, PhashCte, Pipe, SimgCte, StripeMaskSelect, TrendValue,
  bandParams => B, hx, images => I, pixelGen => PxCte}
import graft.ops.{Algorithms, Bands, Stats}

/** The image gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object ImageGates {

  /** Deterministic md5-derived detection-box fixture: `n` boxes per
    * image (k < 400) with corners in [0,4096)+[256,4608) and integer
    * scores in [0,4096); `salt` separates prediction/ground-truth
    * sets. Mirrored verbatim by the BoxCte oracle SQL. */
  private def synthBoxes(s: SparkSession, dir: String, n: Int,
                         salt: String): DataFrame = {
    import graft.sketch.Cms.hexVal
    val hm = md5(concat(col("image_id"), lit(s":$salt"),
      col("i").cast("string")))
    def hv(p: Int) = hexVal(hm, p).cast("long")
    Synth.images(s, dir).where(col("k") < 400)
      .select(col("image_id"),
        explode(sequence(lit(0), lit(n - 1))).as("i"))
      .withColumn("box_id", col("i").cast("long"))
      .withColumn("x1", hv(1) * 256 + hv(2) * 16 + hv(3))
      .withColumn("y1", hv(4) * 256 + hv(5) * 16 + hv(6))
      .withColumn("x2", col("x1") + lit(256L) + hv(7) * 256 + hv(8) * 16
        + hv(9))
      .withColumn("y2", col("y1") + lit(256L) + hv(10) * 256 + hv(11) * 16
        + hv(12))
      .withColumn("score", hv(13) * 256 + hv(14) * 16 + hv(15))
      .select("image_id", "box_id", "x1", "y1", "x2", "y2", "score")
  }

  /** SQL mirror of [[synthBoxes]]: CTEs `${name}0`, `${name}1`,
    * `$name`(k, image_id, box_id, x1, y1, x2, y2, score). */
  private def boxCteSql(name: String, n: Int, salt: String): String =
    s"""${name}0 AS (SELECT k, image_id, CAST(sl.i AS BIGINT) AS box_id,
       |    md5(image_id ${Pipe}${Pipe} ':$salt' ${Pipe}${Pipe}
       |        CAST(sl.i AS VARCHAR)) AS hm
       |  FROM img2 CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${n - 1})) AS i) sl
       |  WHERE k < 400),
       |${name}1 AS (SELECT k, image_id, box_id,
       |    CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
       |      + ${hx("hm", 3)} AS BIGINT) AS x1,
       |    CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
       |      + ${hx("hm", 6)} AS BIGINT) AS y1,
       |    CAST(256 + ${hx("hm", 7)}*256 + ${hx("hm", 8)}*16
       |      + ${hx("hm", 9)} AS BIGINT) AS bw,
       |    CAST(256 + ${hx("hm", 10)}*256 + ${hx("hm", 11)}*16
       |      + ${hx("hm", 12)} AS BIGINT) AS bh,
       |    CAST(${hx("hm", 13)}*256 + ${hx("hm", 14)}*16
       |      + ${hx("hm", 15)} AS BIGINT) AS score
       |  FROM ${name}0),
       |$name AS (SELECT k, image_id, box_id, x1, y1, x1+bw AS x2,
       |    y1+bh AS y2, score FROM ${name}1)""".stripMargin

  private def nmsOracleSql: String =
    s"""WITH RECURSIVE $I,
       |${boxCteSql("nbx", 12, "")},
       |nrk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY k
       |          ORDER BY score DESC, box_id) - 1 AS BIGINT) AS rk
       |        FROM nbx),
       |npr AS (SELECT a.k, a.rk AS ra, b.rk AS rb,
       |          GREATEST(0, LEAST(a.x2, b.x2) - GREATEST(a.x1, b.x1)) *
       |          GREATEST(0, LEAST(a.y2, b.y2) - GREATEST(a.y1, b.y1))
       |            AS inter,
       |          (a.x2-a.x1)*(a.y2-a.y1) + (b.x2-b.x1)*(b.y2-b.y1) AS ar2
       |        FROM nrk a JOIN nrk b ON b.k = a.k AND b.rk > a.rk),
       |nsup AS (SELECT k, ra AS rk,
       |          SUM(CASE WHEN 2*inter > ar2 - inter
       |              THEN (CAST(1 AS BIGINT) << CAST(rb AS INT))
       |              ELSE 0 END) AS sm
       |        FROM npr GROUP BY 1, 2),
       |nst(k, r, kept, acc) AS (
       |  SELECT k, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT)
       |  FROM (SELECT DISTINCT k FROM nrk)
       |  UNION ALL
       |  SELECT s.k, s.r + 1,
       |    CASE WHEN ((s.acc >> CAST(s.r + 1 AS INT)) & 1) = 0
       |         THEN s.kept ${Pipe} (CAST(1 AS BIGINT)
       |                              << CAST(s.r + 1 AS INT))
       |         ELSE s.kept END,
       |    CASE WHEN ((s.acc >> CAST(s.r + 1 AS INT)) & 1) = 0
       |         THEN s.acc ${Pipe} COALESCE(p.sm, 0) ELSE s.acc END
       |  FROM nst s JOIN nrk r2 ON r2.k = s.k AND r2.rk = s.r + 1
       |  LEFT JOIN nsup p ON p.k = s.k AND p.rk = s.r + 1
       |  WHERE s.r < 11)
       |SELECT b.image_id, b.box_id, b.x1, b.y1, b.x2, b.y2, b.score
       |FROM nst f JOIN nrk b ON b.k = f.k
       |  AND ((f.kept >> CAST(b.rk AS INT)) & 1) = 1
       |WHERE f.r = 11
       |ORDER BY 1, 2""".stripMargin

  private def boxMatchOracleSql: String =
    s"""WITH RECURSIVE $I,
       |${boxCteSql("mpd", 12, "")},
       |${boxCteSql("mgt", 6, "g")},
       |mpp AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY k
       |          ORDER BY score DESC, box_id) - 1 AS BIGINT) AS prk
       |        FROM mpd),
       |mgg AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY k
       |          ORDER BY box_id) - 1 AS BIGINT) AS grk
       |        FROM mgt),
       |mpq AS (SELECT p.k, p.prk, g.grk,
       |          GREATEST(0, LEAST(p.x2, g.x2) - GREATEST(p.x1, g.x1)) *
       |          GREATEST(0, LEAST(p.y2, g.y2) - GREATEST(p.y1, g.y1))
       |            AS inter,
       |          (p.x2-p.x1)*(p.y2-p.y1) + (g.x2-g.x1)*(g.y2-g.y1) AS ar2
       |        FROM mpp p JOIN mgg g ON g.k = p.k),
       |mpq2 AS (SELECT k, prk, grk,
       |          CASE WHEN ar2 - inter <= 0 THEN 0
       |               ELSE (inter * 1048576) // (ar2 - inter) END AS q
       |        FROM mpq),
       |mst(k, p, used, tp, qsum) AS (
       |  SELECT k, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM (SELECT DISTINCT k FROM mpp)
       |  UNION ALL
       |  SELECT u.k, u.p,
       |    CASE WHEN u.best IS NULL THEN u.used
       |         ELSE u.used ${Pipe} (CAST(1 AS BIGINT)
       |                              << CAST(-((u.best).g) AS INT)) END,
       |    CASE WHEN u.best IS NULL THEN u.tp ELSE u.tp + 1 END,
       |    CASE WHEN u.best IS NULL THEN u.qsum
       |         ELSE u.qsum + (u.best).q END
       |  FROM (
       |    SELECT s.k, s.p + 1 AS p, s.used, s.tp, s.qsum,
       |      MAX(CASE WHEN c.q IS NOT NULL
       |          THEN struct_pack(q := c.q, g := -c.grk) END) AS best
       |    FROM mst s
       |    JOIN mpp r ON r.k = s.k AND r.prk = s.p + 1
       |    LEFT JOIN mpq2 c ON c.k = s.k AND c.prk = s.p + 1
       |      AND c.q > 524288
       |      AND ((s.used >> CAST(c.grk AS INT)) & 1) = 0
       |    WHERE s.p < 11
       |    GROUP BY 1, 2, 3, 4, 5
       |  ) u)
       |SELECT b.image_id, CAST(12 AS BIGINT) AS n_pred, f.tp,
       |  CAST(12 - f.tp AS BIGINT) AS fp, CAST(6 - f.tp AS BIGINT) AS fn,
       |  f.qsum AS qiou_sum
       |FROM mst f JOIN (SELECT DISTINCT k, image_id FROM mpp) b
       |  ON b.k = f.k
       |WHERE f.p = 11
       |ORDER BY 1""".stripMargin

  /** dHash ground truth: the 8-row × 9-col block-sum grid over band
    * 0 valid pixels, bit (r,c) ⇔ sv(r,c+1)·n(r,c) > sv(r,c)·n(r,c+1),
    * packed MSB-first (bit 63 = the Long sign bit → the −2⁶³ branch,
    * as in PhashCte). Requires $I, $B, $SimgCte, $PxCte. */
  private val DhashCte =
    """dcell AS (SELECT s.k, ry.r, cx.c,
      |    (cx.c*s.w)//9 AS x0, ((cx.c+1)*s.w)//9 AS x1,
      |    (ry.r*s.h)//8 AS y0, ((ry.r+1)*s.h)//8 AS y1
      |  FROM simg s
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS r) ry
      |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS c) cx),
      |dsum AS (SELECT d.k, d.r, d.c,
      |    COUNT(p.v) AS n, COALESCE(SUM(p.v), 0) AS sv
      |  FROM dcell d LEFT JOIN px p ON p.k = d.k AND p.b = 0
      |    AND p.x >= d.x0 AND p.x < d.x1
      |    AND p.y >= d.y0 AND p.y < d.y1
      |  GROUP BY 1, 2, 3),
      |dbit AS (SELECT l.k, l.r, l.c,
      |    CASE WHEN rr.sv*l.n > l.sv*rr.n THEN 1 ELSE 0 END AS bit
      |  FROM dsum l JOIN dsum rr ON rr.k = l.k AND rr.r = l.r
      |    AND rr.c = l.c + 1
      |  WHERE l.c < 8),
      |dhh AS (SELECT k, CAST(SUM(CASE WHEN bit = 1 THEN
      |      CASE WHEN r = 0 AND c = 0 THEN -9223372036854775807 - 1
      |           ELSE (CAST(1 AS BIGINT) << CAST(63 - (r*8 + c) AS INT))
      |      END ELSE 0 END) AS BIGINT) AS dhash
      |  FROM dbit GROUP BY k),
      |dhi AS (SELECT s.image_id, d.dhash
      |  FROM dhh d JOIN simg s ON s.k = d.k)""".stripMargin

  /** (image_id, dhash) of the small images: band-0 dHash of the decoded
    * payload. */
  private def dHashes(s: SparkSession, dir: String): DataFrame = {
    val dh = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
      import graft.core.Codec
      Codec.dHash(Codec.decode(bytes, w, h,
        Codec.bandsStored(fmt, Synth.NumBands), fmt)(0), w, h)
    })
    Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      .select(col("image_id"), dh(col("bytes"), col("w").cast("int"),
        col("h").cast("int"), col("fmt")).as("dhash"))
  }

  /** The gradient-direction octant of (gx, gy) as CASE branches (the
    * same literal tree as the engine's trig-free octant). */
  private val OctantCases =
    """WHEN gx > 0 AND gy >= 0 AND gy < gx THEN 0
      |            WHEN gx > 0 AND gy >= gx THEN 1
      |            WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
      |            WHEN gx < 0 AND gy > 0 AND gy <= -gx THEN 3
      |            WHEN gx < 0 AND gy <= 0 AND gy > gx THEN 4
      |            WHEN gx < 0 AND gy <= gx THEN 5
      |            WHEN gy < 0 AND gx >= 0 AND gx < -gy THEN 6
      |            ELSE 7""".stripMargin

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // RESIZE/thumbnail (standardize-resolution for vision training):
    // band 0 → 16×16 nearest with the exact integer pixel-center index
    // map — thumbnail aggregates value-exact vs the SQL index replay
    Gate("q_resize", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("rz", Bands.resizeAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(16), lit(16)))
        .select(col("image_id"), col("rz._1").as("n_valid"),
          col("rz._2").as("vsum"))
        .orderBy("image_id"),
      // nearest resize to 16×16: xi = ((2x+1)·w)//32, yi likewise —
      // the engine's integer pixel-center map replayed verbatim
      Some(s"""WITH $I, $B, $SimgCte,
         |t AS (SELECT s.k, s.image_id, s.nw, p.base, p.ax, p.ay,
         |        ((2*xs.x+1)*s.w)//32 AS xi, ((2*ys.y+1)*s.h)//32 AS yi
         |      FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, 15)) AS x) xs
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, 15)) AS y) ys)
         |SELECT image_id,
         |  CAST(COUNT(CASE WHEN xi >= nw THEN 1 END) AS BIGINT) AS n_valid,
         |  CAST(COALESCE(SUM(CASE WHEN xi >= nw
         |    THEN base + ax*xi + ay*yi END), 0) AS BIGINT) AS vsum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // aspect-preserving letterbox to 16×16 (centre pad): per-image
    // content window + exact content aggregates
    Gate("q_letterbox", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("lb", Bands.letterboxAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(16)))
        .select(col("image_id"),
          col("lb._1").cast("long").as("cw"),
          col("lb._2").cast("long").as("ch"),
          col("lb._3").cast("long").as("pad_top"),
          col("lb._4").cast("long").as("pad_left"),
          col("lb._5").as("n_valid"), col("lb._6").as("vsum"))
        .orderBy("image_id"),
      // aspect-preserving content dims (long axis → 16, floor scale,
      // min 1) + the same pixel-center nearest index replay as q_resize
      Some(s"""WITH $I, $B, $SimgCte,
         |d AS (SELECT s.k, s.image_id, s.w, s.h, s.nw,
         |        p.base, p.ax, p.ay,
         |        CASE WHEN s.w >= s.h THEN 16
         |             ELSE GREATEST(1, (s.w*16)//s.h) END AS cw,
         |        CASE WHEN s.w >= s.h THEN GREATEST(1, (s.h*16)//s.w)
         |             ELSE 16 END AS ch
         |      FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0),
         |t AS (SELECT d.*, ((2*xs.x+1)*w)//(2*cw) AS xi,
         |        ((2*ys.y+1)*h)//(2*ch) AS yi
         |      FROM d
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, cw-1)) AS x) xs
         |      CROSS JOIN LATERAL
         |        (SELECT unnest(generate_series(0, ch-1)) AS y) ys)
         |SELECT image_id, CAST(cw AS BIGINT) AS cw,
         |  CAST(ch AS BIGINT) AS ch,
         |  CAST((16-ch)//2 AS BIGINT) AS pad_top,
         |  CAST((16-cw)//2 AS BIGINT) AS pad_left,
         |  CAST(COUNT(CASE WHEN xi >= nw THEN 1 END) AS BIGINT)
         |    AS n_valid,
         |  CAST(COALESCE(SUM(CASE WHEN xi >= nw
         |    THEN base + ax*xi + ay*yi END), 0) AS BIGINT) AS vsum
         |FROM t GROUP BY 1, 2, 3, 4, 5 ORDER BY 1""".stripMargin)),

    Gate("q_laplacian", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("la", Stats.laplacianAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("la._1").as("n_valid"),
          col("la._2").as("lap_sum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte,
         |g AS (SELECT s.k, s.image_id, s.w, s.h, p.ax, p.ay, xs.x, ys.y
         |      FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0
         |      CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |        CAST(s.w-1 AS INT))) AS x) xs
         |      CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |        CAST(s.h-1 AS INT))) AS y) ys
         |      WHERE xs.x >= s.nw + LEAST(s.nw, 1))
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(ax*(GREATEST(0,x-1)+LEAST(w-1,x+1)-2*x) +
         |           ay*(GREATEST(0,y-1)+LEAST(h-1,y+1)-2*y)) AS BIGINT)
         |    AS lap_sum
         |FROM g GROUP BY image_id ORDER BY image_id""".stripMargin)),

    Gate("q_convolve_box", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("cv", Stats.convolveBoxAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("cv._1").as("n_valid"),
          col("cv._2").as("fsum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |pos AS (SELECT s.k, s.image_id, s.w, s.h, s.nw, xs.x, ys.y
         |        FROM simg s
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |          CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |          CAST(s.h-1 AS INT))) AS y) ys),
         |offs AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |              (SELECT unnest([-1,0,1]) AS dy) b),
         |inter AS (SELECT pos.k, pos.image_id, pos.x, pos.y,
         |            pos.x + o.dx AS xx, pos.y + o.dy AS yy
         |          FROM pos, offs o
         |          WHERE pos.x >= 1 AND pos.x <= pos.w-2
         |            AND pos.y >= 1 AND pos.y <= pos.h-2),
         |nb AS (SELECT i.k, i.image_id, i.x, i.y,
         |         SUM(p.v) AS acc, COUNT(*) AS nv
         |       FROM inter i JOIN px p ON p.k = i.k AND p.b = 0
         |         AND p.x = i.xx AND p.y = i.yy
         |       GROUP BY i.k, i.image_id, i.x, i.y),
         |outs AS (
         |  SELECT pos.image_id, CAST(p.v AS DOUBLE) AS o
         |  FROM pos JOIN px p ON p.k = pos.k AND p.b = 0
         |    AND p.x = pos.x AND p.y = pos.y
         |  WHERE pos.x < 1 OR pos.x > pos.w-2 OR pos.y < 1 OR pos.y > pos.h-2
         |  UNION ALL
         |  SELECT image_id, CAST(acc AS DOUBLE)/nv FROM nb)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(FLOOR(o*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |FROM outs GROUP BY image_id ORDER BY image_id""".stripMargin)),

    Gate("q_phash_pairs", (s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .select(col("image_id"), col("phash"))
      val a = im.select(col("image_id").as("id_a"), col("phash").as("ph_a"))
      val b = im.select(col("image_id").as("id_b"), col("phash").as("ph_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("dist", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
        .where(col("dist") <= 16)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")
    },
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte
         |SELECT a.image_id AS id_a, b.image_id AS id_b,
         |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
         |FROM phi a JOIN phi b ON a.image_id < b.image_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 16
         |ORDER BY 1, 2""".stripMargin)),

    // corpus-scale pHash near-dup: 4×16-bit banded Hamming join
    // (pigeonhole: any pair at distance ≤ 3 shares ≥ 1 band — full
    // recall for d≤3; verified distance reported). No cross join.
    Gate("q_phash_banded", (s, dir) =>
      graft.ops.Hamming.bandedPairs(
          Synth.imagesWithBytes(s, dir, Synth.smallRaw)
            .select(col("image_id"), col("phash")),
          "image_id", "phash", 16)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte,
         |bnd AS (SELECT image_id, phash, j.bj,
         |          (phash >> (j.bj*16)) & 65535 AS bk
         |        FROM phi CROSS JOIN (SELECT unnest([0,1,2,3]) AS bj) j),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         |           a.phash AS pha, b.phash AS phb
         |         FROM bnd a JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk
         |         WHERE a.image_id < b.image_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(pha, phb)) AS BIGINT) AS dist
         |FROM cand WHERE bit_count(xor(pha, phb)) <= 16
         |ORDER BY 1, 2""".stripMargin)),

    // dHash (difference hash): 8×9 block-sum grid, bit = right cell
    // mean > left cell mean — the gradient-direction perceptual hash,
    // complementary to the phash column's global-mean bits and
    // EXACTLY invariant to integer brightness shifts (DhashSpec).
    // Division-free cross-multiplied compares → oracle bit-exact
    Gate("q_dhash", (s, dir) => dHashes(s, dir).orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $DhashCte
         |SELECT image_id, dhash FROM dhi
         |ORDER BY image_id""".stripMargin)),

    // corpus-scale dHash near-dup: the same 4×16-bit banded Hamming
    // join as q_phash_banded over the gradient hash — catches
    // exposure-shifted duplicates the raw-value hash misses
    Gate("q_dhash_banded", (s, dir) =>
      graft.ops.Hamming.bandedPairs(dHashes(s, dir), "image_id", "dhash", 24)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $DhashCte,
         |bnd AS (SELECT image_id, dhash, j.bj,
         |          (dhash >> (j.bj*16)) & 65535 AS bk
         |        FROM dhi CROSS JOIN (SELECT unnest([0,1,2,3]) AS bj) j),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         |           a.dhash AS dha, b.dhash AS dhb
         |         FROM bnd a JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk
         |         WHERE a.image_id < b.image_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(dha, dhb)) AS BIGINT) AS dist
         |FROM cand WHERE bit_count(xor(dha, dhb)) <= 24
         |ORDER BY 1, 2""".stripMargin)),

    // BT.601 luma/chroma screening constants (grayscale conversion +
    // chroma-flatness gate) — exact ×1000/×564000/×713000 integer
    // forms, one decode per image, no cross-image shuffle
    Gate("q_ycbcr_stats", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.lumaChromaAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("t._1").as("n_px"),
          col("t._2").as("y_sum"), col("t._3").as("y_min"),
          col("t._4").as("y_max"), col("t._5").as("cb_sum"),
          col("t._6").as("cr_sum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |pxw AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS vb0,
         |    MAX(CASE WHEN b=1 THEN v END) AS vb1,
         |    MAX(CASE WHEN b=2 THEN v END) AS vb2
         |  FROM px WHERE b IN (0, 1, 2) GROUP BY k, x, y),
         |yc AS (SELECT k, 299*vb2 + 587*vb1 + 114*vb0 AS y1000,
         |         vb0, vb2 FROM pxw)
         |SELECT s.image_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_px,
         |       CAST(SUM(y.y1000) AS BIGINT) AS y_sum,
         |       CAST(MIN(y.y1000) AS BIGINT) AS y_min,
         |       CAST(MAX(y.y1000) AS BIGINT) AS y_max,
         |       CAST(SUM(564*(1000*y.vb0 - y.y1000)) AS BIGINT) AS cb_sum,
         |       CAST(SUM(713*(1000*y.vb2 - y.y1000)) AS BIGINT) AS cr_sum
         |FROM yc y JOIN simg s ON s.k = y.k
         |GROUP BY s.image_id ORDER BY s.image_id""".stripMargin)),

    // division-free HSV hue-sector histogram (dominant-color /
    // colorfulness screen): sector by channel-argmax + sign compares
    // only, chroma = max−min exact; ≤7 rows per image, one decode
    Gate("q_hue_hist", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .select(col("image_id"), explode(graft.ops.Vision.hueHistAgg(
          col("bytes"), col("w").cast("int"), col("h").cast("int"),
          col("fmt"), lit(Synth.NumBands))).as("t"))
        .select(col("image_id"), col("t._1").as("sector"),
          col("t._2").as("n_px"), col("t._3").as("chroma_sum"))
        .orderBy("image_id", "sector"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |pxw AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS vb,
         |    MAX(CASE WHEN b=1 THEN v END) AS vg,
         |    MAX(CASE WHEN b=2 THEN v END) AS vr
         |  FROM px WHERE b IN (0, 1, 2) GROUP BY k, x, y),
         |hs AS (SELECT k,
         |    GREATEST(vr, vg, vb) - LEAST(vr, vg, vb) AS c,
         |    CASE WHEN GREATEST(vr, vg, vb) = LEAST(vr, vg, vb) THEN 6
         |         WHEN GREATEST(vr, vg, vb) = vr THEN
         |           CASE WHEN vg >= vb THEN 0 ELSE 5 END
         |         WHEN GREATEST(vr, vg, vb) = vg THEN
         |           CASE WHEN vb < vr THEN 1 ELSE 2 END
         |         ELSE CASE WHEN vr < vg THEN 3 ELSE 4 END
         |    END AS sector
         |  FROM pxw)
         |SELECT s.image_id, CAST(h.sector AS BIGINT) AS sector,
         |       CAST(COUNT(*) AS BIGINT) AS n_px,
         |       CAST(SUM(h.c) AS BIGINT) AS chroma_sum
         |FROM hs h JOIN simg s ON s.k = h.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ordered Bayer 4×4 dithering (1-bit halftone quantization):
    // fixed threshold lattice 64·(2M+1), count + positional checksum
    // pin every lit coordinate — integer-exact, one decode
    Gate("q_dither", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.ditherAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("t._1").as("n_valid"),
          col("t._2").as("n_on"), col("t._3").as("pos_sum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |dt AS (SELECT p.k, p.x, p.y, s.w,
         |    CASE WHEN p.v > 64*(2*([0,8,2,10,12,4,14,6,3,11,1,9,
         |      15,7,13,5][CAST((p.y%4)*4 + (p.x%4) AS INT) + 1]) + 1)
         |      THEN 1 ELSE 0 END AS bit
         |  FROM px p JOIN simg s ON s.k = p.k WHERE p.b = 0)
         |SELECT s.image_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(d.bit) AS BIGINT) AS n_on,
         |       CAST(SUM(CASE WHEN d.bit = 1 THEN d.x + d.w*d.y
         |                ELSE 0 END) AS BIGINT) AS pos_sum
         |FROM dt d JOIN simg s ON s.k = d.k
         |GROUP BY s.image_id ORDER BY s.image_id""".stripMargin)),

    // near-dup IMAGE clusters: connected components over the banded
    // pHash Hamming pairs (d ≤ 16) — the image twin of
    // q_dedup_clusters; keep-one-per-cluster image dedup at corpus
    // scale (oracle: recursive-CTE reachability over the same edges)
    Gate("q_phash_clusters", (s, dir) => {
      val imgs = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .select(col("image_id"), col("phash"))
      val pairs = graft.ops.Hamming
        .bandedPairs(imgs, "image_id", "phash", 16)
        .select("id_a", "id_b")
      graft.graph.ConnectedComponents
        .components(imgs.select("image_id"), pairs)
        .select(col("id").as("image_id"), col("comp").as("cluster_id"))
        .orderBy("image_id")
    },
      // same banded candidates + d≤16 edges, then recursive-CTE
      // reachability → min-label per image (the CC ground truth)
      Some(s"""WITH RECURSIVE $I, $B, $SimgCte, $PxCte, $PhashCte,
         |bnd AS (SELECT image_id, phash, j.bj,
         |          (phash >> (j.bj*16)) & 65535 AS bk
         |        FROM phi CROSS JOIN (SELECT unnest([0,1,2,3]) AS bj) j),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         |           a.phash AS pha, b.phash AS phb
         |         FROM bnd a JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk
         |         WHERE a.image_id < b.image_id),
         |e AS (SELECT id_a AS u, id_b AS v FROM cand
         |        WHERE bit_count(xor(pha, phb)) <= 16
         |      UNION ALL
         |      SELECT id_b, id_a FROM cand
         |        WHERE bit_count(xor(pha, phb)) <= 16),
         |reach AS (
         |  SELECT image_id AS v, image_id AS l FROM phi
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN e ON e.u = r.v)
         |SELECT v AS image_id, MIN(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY image_id""".stripMargin)),

    Gate("q_random_pixels", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("rp", Algorithms.randomPixelsAgg(col("k"), col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(16)))
        .select(col("image_id"), col("rp._1").as("n_valid"),
          col("rp._2").as("vsum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte,
         |draws AS (SELECT s.k, s.image_id, s.w, s.h, s.nw, p.base, p.ax, p.ay,
         |            (s.k*1103515245 + g.i*2654435761) % (s.w*s.h) AS idx
         |          FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0
         |          CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 15))
         |            AS i) g),
         |vals AS (SELECT k, image_id, idx % w AS x, idx // w AS y, nw,
         |           base, ax, ay FROM draws)
         |SELECT image_id,
         |  CAST(COUNT(*) FILTER (WHERE x >= nw) AS BIGINT) AS n_valid,
         |  COALESCE(CAST(SUM(base + ax*x + ay*y) FILTER (WHERE x >= nw)
         |    AS BIGINT), 0) AS vsum
         |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin)),

    // skeletonize: Zhang-Suen thinning of the NDVI>0 mask — skeleton
    // pixel count per image (iterative kernel; rows-only)
    Gate("q_skeletonize", (s, dir) => {
      val sk = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Pixels
        val mask = Synth.vegMask(bytes, w, h, fmt)
        val s = Pixels.skeletonize(mask, w, h)
        (mask.count(_ == 1.0).toLong, s.count(_ == 1.0).toLong)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("sk", sk(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("sk._1").as("n_mask"),
          col("sk._2").as("n_skel"))
        .orderBy("image_id")
    },
      // gain/offset read boundary: out = v·0.1 + 5 over band-0 valid px
      // Zhang-Suen thinning replayed EXACTLY in a recursive CTE: each
      // recursion step is one sub-pass (pass parity = it % 2, matching
      // the engine's pass0/pass1 alternation); the 8-neighborhood is
      // built by exploding every live cell into 9 (bit, offset)
      // contributions and grouping on the receiving cell (the recursive
      // working table may be referenced only once — this needs no
      // self-join). 80 sub-passes = 40 engine rounds, far past
      // convergence for ≤64px half-plane masks; extra sub-passes are
      // no-ops on the stable skeleton, so the fixed bound equals the
      // engine's run-until-stable result.
      Some(s"""WITH RECURSIVE $I, $B, $SimgCte,
         |offs(bit, dx, dy, po2) AS (VALUES
         |  (0, 0, -1, 1), (1, 1, -1, 2), (2, 1, 0, 4), (3, 1, 1, 8),
         |  (4, 0, 1, 16), (5, -1, 1, 32), (6, -1, 0, 64), (7, -1, -1, 128),
         |  (8, 0, 0, 0)),
         |m0 AS (
         |  SELECT s.k, xs.x, ys.y
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |    AND p3.base + p3.ax*xs.x + p3.ay*ys.y
         |      > p2.base + p2.ax*xs.x + p2.ay*ys.y),
         |thin(k, x, y, it) AS (
         |  SELECT k, x, y, 0 FROM m0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MAX(t.it) AS it,
         |           MAX(CASE WHEN o.bit = 8 THEN 1 ELSE 0 END) AS fg,
         |           CAST(SUM(o.po2) AS INTEGER) AS m
         |    FROM thin t CROSS JOIN offs o
         |    GROUP BY 1, 2, 3
         |  ) c
         |  WHERE c.fg = 1 AND c.it < 80 AND NOT (
         |    bit_count(c.m) BETWEEN 2 AND 6
         |    AND (CASE WHEN ((c.m>>0)&1)=0 AND ((c.m>>1)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>1)&1)=0 AND ((c.m>>2)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>2)&1)=0 AND ((c.m>>3)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>3)&1)=0 AND ((c.m>>4)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>4)&1)=0 AND ((c.m>>5)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>5)&1)=0 AND ((c.m>>6)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>6)&1)=0 AND ((c.m>>7)&1)=1 THEN 1 ELSE 0 END
         |       + CASE WHEN ((c.m>>7)&1)=0 AND ((c.m>>0)&1)=1 THEN 1 ELSE 0 END) = 1
         |    AND (CASE WHEN c.it % 2 = 0
         |         THEN NOT (((c.m>>0)&1)=1 AND ((c.m>>2)&1)=1 AND ((c.m>>4)&1)=1)
         |          AND NOT (((c.m>>2)&1)=1 AND ((c.m>>4)&1)=1 AND ((c.m>>6)&1)=1)
         |         ELSE NOT (((c.m>>0)&1)=1 AND ((c.m>>2)&1)=1 AND ((c.m>>6)&1)=1)
         |          AND NOT (((c.m>>0)&1)=1 AND ((c.m>>4)&1)=1 AND ((c.m>>6)&1)=1)
         |         END))
         |),
         |skel AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_skel
         |         FROM thin WHERE it = 80 GROUP BY k),
         |msk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_mask
         |        FROM m0 GROUP BY k)
         |SELECT s.image_id, COALESCE(msk.n_mask, 0) AS n_mask,
         |       COALESCE(skel.n_skel, 0) AS n_skel
         |FROM simg s LEFT JOIN msk ON msk.k = s.k
         |LEFT JOIN skel ON skel.k = s.k
         |ORDER BY 1""".stripMargin)),

    // two-level Laplacian pyramid (Burt-Adelson, floor-mean reduce):
    // per-image subband energy split, exact integers
    Gate("q_lap_pyramid", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("lp", graft.ops.Vision.lapPyramidAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("lp._1").as("n_l0"),
          col("lp._2").as("l0_abs_sum"), col("lp._3").as("l0_max"),
          col("lp._4").as("l1_abs_sum"), col("lp._5").as("g2_sum"))
        .orderBy("image_id"),
      // Laplacian pyramid: G1 = floor-mean over full 2x2 blocks (odd
      // trailing row/col excluded by the inner join), L = G - parent
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |lp1 AS (SELECT k, x//2 AS u, y//2 AS v, w//2 AS w1,
         |          h//2 AS h1, SUM(z)//4 AS g
         |        FROM demp WHERE x < 2*(w//2) AND y < 2*(h//2)
         |        GROUP BY 1, 2, 3, 4, 5),
         |lp2 AS (SELECT k, u//2 AS p, v//2 AS q, SUM(g)//4 AS g2
         |        FROM lp1 WHERE u < 2*(w1//2) AND v < 2*(h1//2)
         |        GROUP BY 1, 2, 3),
         |ll0 AS (SELECT d.k, d.image_id, ABS(d.z - g.g) AS a
         |        FROM demp d JOIN lp1 g ON g.k = d.k
         |          AND g.u = d.x//2 AND g.v = d.y//2),
         |ll1 AS (SELECT a.k, SUM(ABS(a.g - b.g2)) AS s1
         |        FROM lp1 a JOIN lp2 b ON b.k = a.k
         |          AND b.p = a.u//2 AND b.q = a.v//2
         |        GROUP BY 1),
         |lg2 AS (SELECT k, SUM(g2) AS gs FROM lp2 GROUP BY 1),
         |la0 AS (SELECT k, image_id, CAST(COUNT(*) AS BIGINT) AS n_l0,
         |          CAST(SUM(a) AS BIGINT) AS l0_abs_sum,
         |          CAST(MAX(a) AS BIGINT) AS l0_max
         |        FROM ll0 GROUP BY 1, 2)
         |SELECT z.image_id, z.n_l0, z.l0_abs_sum, z.l0_max,
         |  CAST(o.s1 AS BIGINT) AS l1_abs_sum,
         |  CAST(g.gs AS BIGINT) AS g2_sum
         |FROM la0 z JOIN ll1 o ON o.k = z.k JOIN lg2 g ON g.k = z.k
         |ORDER BY z.image_id""".stripMargin)),

    // contour crossings (marching-squares primitive): per iso level,
    // grid edges with exactly one endpoint below the level + integer
    // positional checksum
    Gate("q_contours", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("c", explode(graft.ops.Terrain.contourAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          array(lit(500L), lit(1000L), lit(1500L)))))
        .select(col("image_id"), col("c._1").as("level"),
          col("c._2").as("n_h"), col("c._3").as("n_v"),
          col("c._4").as("chk"))
        .orderBy("image_id", "level"),
      // an edge crosses a level iff (z1 < L) ≠ (z2 < L); zero-crossing
      // (image, level) pairs still emit a row, hence the left join
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |cl AS (SELECT unnest([500, 1000, 1500]) AS level),
         |ccr AS (
         |  SELECT a.k, l.level, 1 AS ish, a.x, a.y
         |  FROM demp a JOIN demp b ON b.k = a.k AND b.x = a.x + 1
         |    AND b.y = a.y
         |  CROSS JOIN cl l WHERE (a.z < l.level) <> (b.z < l.level)
         |  UNION ALL
         |  SELECT a.k, l.level, 0 AS ish, a.x, a.y
         |  FROM demp a JOIN demp b ON b.k = a.k AND b.x = a.x
         |    AND b.y = a.y + 1
         |  CROSS JOIN cl l WHERE (a.z < l.level) <> (b.z < l.level)),
         |cagg AS (SELECT k, level, SUM(ish) AS n_h, SUM(1 - ish) AS n_v,
         |           SUM(x + 131*y) AS chk
         |         FROM ccr GROUP BY 1, 2)
         |SELECT s.image_id, CAST(l.level AS BIGINT) AS level,
         |  CAST(COALESCE(a.n_h, 0) AS BIGINT) AS n_h,
         |  CAST(COALESCE(a.n_v, 0) AS BIGINT) AS n_v,
         |  CAST(COALESCE(a.chk, 0) AS BIGINT) AS chk
         |FROM simg s CROSS JOIN cl l
         |LEFT JOIN cagg a ON a.k = s.k AND a.level = l.level
         |ORDER BY s.image_id, l.level""".stripMargin)),

    // Harris corner response with k = 1/25 stated in pure integers
    // (R·25 = 25·det − tr²) over central-difference gradients — corner
    // counts + clamped checksum
    Gate("q_harris", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("hr", graft.ops.Terrain.harrisAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("hr._1").as("n_eval"),
          col("hr._2").as("n_corner"), col("hr._3").as("chk"))
        .orderBy("image_id"),
      // central-difference gradients (the 4 neighbor joins enforce the
      // interior), 3×3 structure tensor, then the all-integer response
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |hgx AS (SELECT a.k, a.image_id, a.w, a.h, a.x, a.y,
         |          b.z - c.z AS gx, d.z - e.z AS gy
         |        FROM demp a
         |        JOIN demp b ON b.k = a.k AND b.x = a.x + 1 AND b.y = a.y
         |        JOIN demp c ON c.k = a.k AND c.x = a.x - 1 AND c.y = a.y
         |        JOIN demp d ON d.k = a.k AND d.x = a.x AND d.y = a.y + 1
         |        JOIN demp e ON e.k = a.k AND e.x = a.x AND e.y = a.y - 1),
         |hto AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |htn AS (SELECT p.k, p.image_id, p.x, p.y,
         |          SUM(g.gx*g.gx) AS sxx, SUM(g.gy*g.gy) AS syy,
         |          SUM(g.gx*g.gy) AS sxy
         |        FROM demp p JOIN hto o ON TRUE
         |        JOIN hgx g ON g.k = p.k AND g.x = p.x + o.dx
         |          AND g.y = p.y + o.dy
         |        WHERE p.x >= 2 AND p.x <= p.w-3
         |          AND p.y >= 2 AND p.y <= p.h-3
         |        GROUP BY 1, 2, 3, 4),
         |hrr AS (SELECT k, image_id,
         |          25*(sxx*syy - sxy*sxy) - (sxx+syy)*(sxx+syy) AS r25
         |        FROM htn)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CASE WHEN r25 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_corner,
         |  CAST(SUM(LEAST(GREATEST(r25, -1000000), 1000000)) AS BIGINT)
         |    AS chk
         |FROM hrr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LBP texture descriptor: 8-neighbor ≥-center bit pattern (D8 bit
    // order), per-image 256-bin histogram — pure integer
    Gate("q_lbp", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("lb", explode(graft.ops.Terrain.lbpHistogram(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("lb._1").as("lbp"),
          col("lb._2").as("cnt"))
        .orderBy("image_id", "lbp"),
      // bit d set iff neighbor_d ≥ center, D8 code order
      Some(s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |lbc AS (SELECT c.k, c.image_id, c.x, c.y,
         |          SUM(CASE WHEN n.z >= c.z
         |            THEN (CAST(1 AS BIGINT) << d.code) ELSE 0 END) AS lbp
         |        FROM demp c JOIN d8 d ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |          AND n.y = c.y + d.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(lbp AS BIGINT) AS lbp,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM lbc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // 3×3 median (rank) filter: per-image sum/changed-count/checksum
    // of the 5th-smallest of each interior 3×3 window — pure integer
    Gate("q_median_filter", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("m", graft.ops.Vision.medianAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("m._1").as("n_int"),
          col("m._2").as("med_sum"), col("m._3").as("n_changed"),
          col("m._4").as("chk"))
        .orderBy("image_id"),
      // median of 9 integers = the discrete 0.5-quantile (odd count, no
      // interpolation) — QUANTILE_DISC mirrors the kernel's 5th-smallest
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |mfo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |mfm AS (SELECT d.k, d.image_id, d.x, d.y, d.z,
         |          QUANTILE_DISC(n.z, 0.5) AS med
         |        FROM demp d JOIN mfo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, 5)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(med) AS BIGINT) AS med_sum,
         |  CAST(SUM(CASE WHEN med <> z THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed,
         |  CAST(SUM(med*(x + 131*y)) AS BIGINT) AS chk
         |FROM mfm GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // Lee sigma speckle filter: floor-mean of the 3×3 neighbors
    // within ±120 of the center (center always included) — edges
    // survive, speckle smooths; pure integer, one decode
    Gate("q_lee_filter", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.leeSigmaAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(120)))
        .select(col("image_id"), col("t._1").as("n_int"),
          col("t._2").as("out_sum"), col("t._3").as("n_smoothed"),
          col("t._4").as("chk"))
        .orderBy("image_id"),
      // Lee sigma replay: 3×3 scatter join, FILTER on |n.z − center| ≤
      // 120, floor divide (non-negative operands)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |lfo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |lfm AS (SELECT d.k, d.image_id, d.x, d.y, d.z,
         |          CAST(SUM(n.z) FILTER (WHERE abs(n.z - d.z) <= 120)
         |            AS BIGINT) AS s,
         |          CAST(COUNT(*) FILTER (WHERE abs(n.z - d.z) <= 120)
         |            AS BIGINT) AS m
         |        FROM demp d JOIN lfo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, 5),
         |lfr AS (SELECT image_id, x, y, z, s // m AS outv FROM lfm)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(outv) AS BIGINT) AS out_sum,
         |  CAST(SUM(CASE WHEN outv <> z THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_smoothed,
         |  CAST(SUM(outv*(x + 131*y)) AS BIGINT) AS chk
         |FROM lfr GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // SSIM vs the raster's own 3×3 box mean over full 8×8 interior
    // blocks — one exact scaled integer per block (n²-scaled form,
    // HUGEINT/BigInt for the wide step), per-image rollup
    Gate("q_ssim", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.ssimAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_blocks"),
          col("t._2").as("ssim_sum"), col("t._3").as("ssim_min"),
          col("t._4").as("chk"))
        // rasters too small for one full interior 8x8 block emit no
        // row, matching the oracle's GROUP-BY-over-blocks row
        // semantics (ADVICE r5; no-op on the current fixture)
        .where(col("n_blocks") > 0)
        .orderBy("image_id"),
      // SSIM replay: 3×3 box floor-mean per interior pixel, 8×8 block
      // sums, n²-scaled SSIM with the num·10⁶ step in HUGEINT (// is
      // floor division — the kernel floor-adjusts its BigInt divide)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |sso AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |ssp AS (SELECT d.k, d.image_id, d.x, d.y, d.z AS a,
         |          CAST(SUM(n.z) AS BIGINT) // 9 AS b
         |        FROM demp d JOIN sso o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, 5),
         |ssb AS (SELECT k, image_id, (x-1)//8 AS bx, (y-1)//8 AS by,
         |          CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(a) AS BIGINT) AS sa,
         |          CAST(SUM(b) AS BIGINT) AS sb,
         |          CAST(SUM(a*a) AS BIGINT) AS saa,
         |          CAST(SUM(b*b) AS BIGINT) AS sbb,
         |          CAST(SUM(a*b) AS BIGINT) AS sab
         |        FROM ssp GROUP BY 1, 2, 3, 4),
         |ssv AS (SELECT image_id, bx, by,
         |          CAST(((2*CAST(sa AS HUGEINT)*sb + 419*4096)
         |             * (2*(64*CAST(sab AS HUGEINT) - CAST(sa AS HUGEINT)*sb)
         |                + 3775*4096) * 1000000)
         |            // ((CAST(sa AS HUGEINT)*sa + CAST(sb AS HUGEINT)*sb
         |                + 419*4096)
         |               * ((64*CAST(saa AS HUGEINT) - CAST(sa AS HUGEINT)*sa)
         |                + (64*CAST(sbb AS HUGEINT) - CAST(sb AS HUGEINT)*sb)
         |                + 3775*4096)) AS BIGINT) AS v
         |        FROM ssb WHERE n = 64)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(v) AS BIGINT) AS ssim_sum,
         |  CAST(COALESCE(MIN(v), 0) AS BIGINT) AS ssim_min,
         |  CAST(SUM(v*(bx + 31*by)) AS BIGINT) AS chk
         |FROM ssv GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // structure-tensor coherence per 8×8 block: the edge-vs-texture
    // anisotropy ((a−b)²+4c²)/(a+b)² as one exact scaled integer
    Gate("q_coherence", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.coherenceAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_blocks"),
          col("t._2").as("coh_sum"), col("t._3").as("coh_max"),
          col("t._4").as("chk"))
        .where(col("n_blocks") > 0) // see q_ssim note (ADVICE r5)
        .orderBy("image_id"),
      // coherence replay: the same gradient scatter join, 8×8 block
      // tensor sums, HUGEINT for the num·10⁶ step
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |chg AS (SELECT d.k, d.image_id, d.x, d.y,
         |          nx.z - px.z AS gx, ny.z - py.z AS gy
         |        FROM demp d
         |        JOIN demp nx ON nx.k = d.k AND nx.x = d.x+1 AND nx.y = d.y
         |        JOIN demp px ON px.k = d.k AND px.x = d.x-1 AND px.y = d.y
         |        JOIN demp ny ON ny.k = d.k AND ny.x = d.x AND ny.y = d.y+1
         |        JOIN demp py ON py.k = d.k AND py.x = d.x AND py.y = d.y-1
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2),
         |chb AS (SELECT k, image_id, (x-1)//8 AS bx, (y-1)//8 AS by,
         |          CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(gx*gx) AS BIGINT) AS a,
         |          CAST(SUM(gy*gy) AS BIGINT) AS b,
         |          CAST(SUM(gx*gy) AS BIGINT) AS c
         |        FROM chg GROUP BY 1, 2, 3, 4),
         |chv AS (SELECT image_id, bx, by,
         |          CASE WHEN a + b = 0 THEN 0 ELSE
         |            CAST((CAST((a-b)*(a-b) + 4*c*c AS HUGEINT) * 1000000)
         |              // (CAST(a+b AS HUGEINT) * (a+b)) AS BIGINT)
         |          END AS v
         |        FROM chb WHERE n = 64)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(v) AS BIGINT) AS coh_sum,
         |  CAST(COALESCE(MAX(v), 0) AS BIGINT) AS coh_max,
         |  CAST(SUM(v*(bx + 31*by)) AS BIGINT) AS chk
         |FROM chv GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // HOG-style orientation census: central-difference gradients,
    // division-free octant binning, L1 magnitude — ≤8 rows per image
    Gate("q_hog", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .select(col("image_id"), explode(graft.ops.Vision.hogAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
          .as("t"))
        .select(col("image_id"), col("t._1").as("octant"),
          col("t._2").as("n_px"), col("t._3").as("mag_sum"))
        .orderBy("image_id", "octant"),
      // HOG replay: central-difference gradients via four shifted
      // self-joins, the octant sign/compare ladder, L1 magnitude
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |hgg AS (SELECT d.k, d.image_id,
         |          nx.z - px.z AS gx, ny.z - py.z AS gy
         |        FROM demp d
         |        JOIN demp nx ON nx.k = d.k AND nx.x = d.x+1 AND nx.y = d.y
         |        JOIN demp px ON px.k = d.k AND px.x = d.x-1 AND px.y = d.y
         |        JOIN demp ny ON ny.k = d.k AND ny.x = d.x AND ny.y = d.y+1
         |        JOIN demp py ON py.k = d.k AND py.x = d.x AND py.y = d.y-1
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2),
         |hgo AS (SELECT image_id,
         |          CASE
         |            WHEN gx = 0 AND gy = 0 THEN 8
         |            ${OctantCases} END AS oct,
         |          abs(gx) + abs(gy) AS m
         |        FROM hgg)
         |SELECT image_id, CAST(oct AS BIGINT) AS octant,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(m) AS BIGINT) AS mag_sum
         |FROM hgo WHERE oct < 8
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // morphological gradient (Beucher): dilate3×3 − erode3×3 =
    // window max − min — the morphology edge-strength operator
    Gate("q_morph_gradient", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("g", graft.ops.Vision.morphGradAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("g._1").as("n_int"),
          col("g._2").as("grad_sum"), col("g._3").as("grad_max"),
          col("g._4").as("chk"))
        .orderBy("image_id"),
      // dilate − erode = window max − min, interior pixels
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |mgo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |mgg AS (SELECT d.k, d.image_id, d.x, d.y,
         |          MAX(n.z) - MIN(n.z) AS grad
         |        FROM demp d JOIN mgo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(grad) AS BIGINT) AS grad_sum,
         |  CAST(MAX(grad) AS BIGINT) AS grad_max,
         |  CAST(SUM(grad*(x + 131*y)) AS BIGINT) AS chk
         |FROM mgg GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // white top-hat: z − opening(z) (dilate of the erode plane) on the
    // 5×5 support — bright-small-feature residue, ≥ 0 by construction
    Gate("q_tophat", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.topHatAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_eval"),
          col("t._2").as("th_sum"), col("t._3").as("n_pos"),
          col("t._4").as("chk"))
        .orderBy("image_id"),
      // opening = dilate3×3 of the erode3×3 plane; top-hat = z − opening
      // on the 5×5 support (x,y ∈ [2, w−3]) — every erode cell a dilate
      // window touches is itself interior, so the two levels compose
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |tho AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |the AS (SELECT d.k, d.x, d.y, MIN(n.z) AS e
         |        FROM demp d JOIN tho o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3),
         |thp AS (SELECT d.k, d.image_id, d.x, d.y,
         |          d.z - MAX(e.e) AS th
         |        FROM demp d JOIN tho o ON TRUE
         |        JOIN the e ON e.k = d.k AND e.x = d.x + o.dx
         |          AND e.y = d.y + o.dy
         |        WHERE d.x >= 2 AND d.x <= d.w-3
         |          AND d.y >= 2 AND d.y <= d.h-3
         |        GROUP BY d.k, d.image_id, d.x, d.y, d.z)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(th) AS BIGINT) AS th_sum,
         |  CAST(SUM(CASE WHEN th > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  CAST(SUM(th*(x + 131*y)) AS BIGINT) AS chk
         |FROM thp GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // NCC template match vs the broadcast 8×8 k=911 DEM patch:
    // integer num/den per window, score = floor(num/√den·10⁶) (three
    // identically-ordered IEEE roundings), argmax with (y,x) ties
    Gate("q_template_match", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("m", graft.ops.Vision.templateMatchAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("m._1").as("best_x"),
          col("m._2").as("best_y"), col("m._3").as("score"),
          col("m._4").as("n_cand"))
        .orderBy("image_id"),
      // the 8×8 template is the k=911 DEM patch (same closed form);
      // num/den are exact integers, score = floor(num/√den·10⁶) is
      // three identically-ordered IEEE roundings; argmax via struct MAX
      // (lexicographic in both engines), ties → lowest y then x
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |tmt AS (SELECT i.i, j.j,
         |          100 + ((911%7+1)*i.i*i.i + (911%5+1)*j.j*j.j
         |               + (911%3+1)*i.i*j.j
         |               + ((911*3)%11)*i.i + ((911*7)%13)*j.j) % 1900 AS t
         |        FROM (SELECT unnest(generate_series(0, 7)) AS i) i,
         |             (SELECT unnest(generate_series(0, 7)) AS j) j),
         |tms AS (SELECT SUM(t) AS st FROM tmt),
         |tmp0 AS (SELECT s.k, s.image_id, xs.x0, ys.y0
         |         FROM simg s
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |           CAST(s.w-8 AS INT))) AS x0) xs
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |           CAST(s.h-8 AS INT))) AS y0) ys),
         |tmw AS (SELECT p.k, p.image_id, p.x0, p.y0,
         |          SUM(n.z) AS sz, SUM(n.z*n.z) AS szz,
         |          SUM(t.t*n.z) AS stz
         |        FROM tmp0 p JOIN tmt t ON TRUE
         |        JOIN demp n ON n.k = p.k AND n.x = p.x0 + t.i
         |          AND n.y = p.y0 + t.j
         |        GROUP BY 1, 2, 3, 4),
         |tmc AS (SELECT w.k, w.image_id, w.x0, w.y0,
         |          64*w.stz - s.st*w.sz AS num,
         |          64*w.szz - w.sz*w.sz AS den
         |        FROM tmw w CROSS JOIN tms s),
         |tmsc AS (SELECT k, image_id, x0, y0,
         |           CAST(FLOOR(num / sqrt(CAST(den AS DOUBLE)) * 1e6)
         |             AS BIGINT) AS s
         |         FROM tmc WHERE den > 0),
         |tmb AS (SELECT image_id,
         |          (MAX(struct_pack(s := s, ny := -y0, nx := -x0))).s
         |            AS score,
         |          -(MAX(struct_pack(s := s, ny := -y0, nx := -x0))).nx
         |            AS best_x,
         |          -(MAX(struct_pack(s := s, ny := -y0, nx := -x0))).ny
         |            AS best_y,
         |          COUNT(*) AS n_cand
         |        FROM tmsc GROUP BY 1)
         |SELECT image_id, CAST(best_x AS BIGINT) AS best_x,
         |  CAST(best_y AS BIGINT) AS best_y,
         |  CAST(score AS BIGINT) AS score,
         |  CAST(n_cand AS BIGINT) AS n_cand
         |FROM tmb ORDER BY image_id""".stripMargin)),

    // Hough line accumulator at the four exact angles over
    // morph-gradient edges (≥ 300): winning ρ-bin + votes per θ
    Gate("q_hough", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("hh", explode(graft.ops.Vision.houghAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("hh._1").as("theta"),
          col("hh._2").as("best_bin"), col("hh._3").as("votes"))
        .orderBy("image_id", "theta"),
      // edges = morph gradient ≥ 300 (the DEM's %1900 wrap curves);
      // ρ-bins: x/8, (x+y)·(√2/2)/8, y/8, (y−x)·(√2/2)/8 — √2/2 is one
      // correctly-rounded literal, the multiply the only further
      // rounding (/8 exact); winner per θ via struct MAX, ties → lowest
      // bin; a θ with zero edges emits no row (both sides)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |hgo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |hgg AS (SELECT d.k, d.image_id, d.x, d.y,
         |          MAX(n.z) - MIN(n.z) AS grad
         |        FROM demp d JOIN hgo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4),
         |hge AS (SELECT k, image_id, x, y FROM hgg WHERE grad >= 300),
         |hgr AS (SELECT k, image_id, th.theta,
         |          CASE th.theta
         |            WHEN 0 THEN CAST(FLOOR(x / 8.0) AS BIGINT)
         |            WHEN 1 THEN CAST(FLOOR((x + y) * (sqrt(2.0)/2)
         |              / 8.0) AS BIGINT)
         |            WHEN 2 THEN CAST(FLOOR(y / 8.0) AS BIGINT)
         |            ELSE CAST(FLOOR((y - x) * (sqrt(2.0)/2) / 8.0)
         |              AS BIGINT)
         |          END AS bin
         |        FROM hge CROSS JOIN (SELECT unnest([0,1,2,3])
         |          AS theta) th),
         |hga AS (SELECT k, image_id, theta, bin, COUNT(*) AS cnt
         |        FROM hgr GROUP BY 1, 2, 3, 4),
         |hgb AS (SELECT image_id, theta,
         |          (MAX(struct_pack(c := cnt, nb := -bin))).c AS votes,
         |          -(MAX(struct_pack(c := cnt, nb := -bin))).nb
         |            AS best_bin
         |        FROM hga GROUP BY 1, 2)
         |SELECT image_id, CAST(theta AS BIGINT) AS theta,
         |  CAST(best_bin AS BIGINT) AS best_bin,
         |  CAST(votes AS BIGINT) AS votes
         |FROM hgb ORDER BY image_id, theta""".stripMargin)),

    // GLCM texture at offset (1,0), 8 levels (z div 256): n_pairs,
    // contrast, dissimilarity, energy — all exact integers
    Gate("q_glcm", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("g", graft.ops.Vision.glcmAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("g._1").as("n_pairs"),
          col("g._2").as("contrast"), col("g._3").as("dissim"),
          col("g._4").as("energy"))
        .orderBy("image_id"),
      // horizontal co-occurrence pairs (x, x+1); levels z//256 ∈ 0..7;
      // energy Σc² in HUGEINT then cast back
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |glv AS (SELECT k, image_id, w, x, y, z // 256 AS l FROM demp),
         |glp AS (SELECT a.k, a.image_id, a.l AS li, b.l AS lj
         |        FROM glv a JOIN glv b ON b.k = a.k AND b.y = a.y
         |          AND b.x = a.x + 1
         |        WHERE a.x <= a.w - 2),
         |glc AS (SELECT k, image_id, li, lj, COUNT(*) AS c
         |        FROM glp GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(SUM(c) AS BIGINT) AS n_pairs,
         |  CAST(SUM(c*(li-lj)*(li-lj)) AS BIGINT) AS contrast,
         |  CAST(SUM(c*ABS(li-lj)) AS BIGINT) AS dissim,
         |  CAST(SUM(CAST(c AS HUGEINT)*c) AS BIGINT) AS energy
         |FROM glc GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // divide-free central moments: mu20s = m00·Σzx² − m10², mu02s,
    // mu11s, + principal-axis quadrant code (signs, no atan2)
    Gate("q_moments", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("m", graft.ops.Vision.momentsAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("m._1").as("mu20s"),
          col("m._2").as("mu02s"), col("m._3").as("mu11s"),
          col("m._4").as("orient_code"))
        .orderBy("image_id"),
      // raw moments in HUGEINT (m00·mxx ≈ 9e16 would overflow a strict
      // BIGINT product check), scaled central moments cast back; the
      // quadrant code is (sign(mu11)+1)·3 + (sign(mu20−mu02)+1)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |mmr AS (SELECT k, image_id,
         |          CAST(SUM(z) AS HUGEINT) AS m00,
         |          CAST(SUM(z*x) AS HUGEINT) AS m10,
         |          CAST(SUM(z*y) AS HUGEINT) AS m01,
         |          CAST(SUM(z*x*x) AS HUGEINT) AS mxx,
         |          CAST(SUM(z*y*y) AS HUGEINT) AS myy,
         |          CAST(SUM(z*x*y) AS HUGEINT) AS mxy
         |        FROM demp GROUP BY 1, 2),
         |mmu AS (SELECT image_id,
         |          m00*mxx - m10*m10 AS mu20,
         |          m00*myy - m01*m01 AS mu02,
         |          m00*mxy - m10*m01 AS mu11
         |        FROM mmr)
         |SELECT image_id, CAST(mu20 AS BIGINT) AS mu20s,
         |  CAST(mu02 AS BIGINT) AS mu02s,
         |  CAST(mu11 AS BIGINT) AS mu11s,
         |  CAST((CASE WHEN mu11 > 0 THEN 2 WHEN mu11 = 0 THEN 1
         |         ELSE 0 END) * 3
         |    + (CASE WHEN mu20 > mu02 THEN 2 WHEN mu20 = mu02 THEN 1
         |       ELSE 0 END) AS BIGINT) AS orient_code
         |FROM mmu ORDER BY image_id""".stripMargin)),

    // Otsu threshold over 32 levels (z div 64), argmax of num²/den
    // decided by exact cross-multiplication, ties → lowest t
    Gate("q_otsu", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("o", graft.ops.Vision.otsuAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("o._1").as("t_best"),
          col("o._2").as("w0"), col("o._3").as("num"),
          col("o._4").as("den"))
        .orderBy("image_id"),
      // per-threshold (w0, S0) prefix sums; best t = the one no rival
      // beats on the exact cross-product num²·den' > num'²·den (HUGEINT),
      // ties → lowest t (NOT EXISTS anti-join over ≤31 rivals)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |olv AS (SELECT k, image_id, z // 64 AS l FROM demp),
         |ohc AS (SELECT k, image_id, l, COUNT(*) AS c
         |        FROM olv GROUP BY 1, 2, 3),
         |otw AS (SELECT k, image_id, SUM(c) AS wt, SUM(l*c) AS st
         |        FROM ohc GROUP BY 1, 2),
         |oth AS (SELECT w.k, w.image_id, tt.t, w.wt, w.st,
         |          (SELECT COALESCE(SUM(h.c), 0) FROM ohc h
         |           WHERE h.k = w.k AND h.l <= tt.t) AS w0,
         |          (SELECT COALESCE(SUM(h.l*h.c), 0) FROM ohc h
         |           WHERE h.k = w.k AND h.l <= tt.t) AS s0
         |        FROM otw w CROSS JOIN (SELECT unnest(
         |          generate_series(0, 30)) AS t) tt),
         |osc AS (SELECT k, image_id, t, w0,
         |          CAST(w0*st - wt*s0 AS HUGEINT) AS num,
         |          CAST(w0*(wt - w0) AS HUGEINT) AS den
         |        FROM oth WHERE w0 > 0 AND w0 < wt),
         |obt AS (SELECT s1.k, s1.image_id, s1.t, s1.w0, s1.num, s1.den
         |        FROM osc s1 WHERE NOT EXISTS (
         |          SELECT 1 FROM osc s2 WHERE s2.k = s1.k AND (
         |            s2.num*s2.num*s1.den > s1.num*s1.num*s2.den
         |            OR (s2.num*s2.num*s1.den = s1.num*s1.num*s2.den
         |                AND s2.t < s1.t))))
         |SELECT image_id, CAST(t AS BIGINT) AS t_best,
         |  CAST(w0 AS BIGINT) AS w0, CAST(num AS BIGINT) AS num,
         |  CAST(den AS BIGINT) AS den
         |FROM obt ORDER BY image_id""".stripMargin)),

    // HOG-lite: Horn-gradient octant histogram (8 × 45° sectors via
    // sign/comparison ladder + flat), counts and integer gx²+gy²
    Gate("q_grad_octants", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("g", explode(graft.ops.Vision.gradOctAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("g._1").as("octant"),
          col("g._2").as("cnt"), col("g._3").as("mag2_sum"))
        .orderBy("image_id", "octant"),
      // Horn gx/gy per interior pixel → the 45°-sector ladder (verbatim
      // sign/comparison CASE, octant 8 = flat), counts + Σ gx²+gy²
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |goo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b),
         |gog AS (SELECT d.k, d.image_id, d.x, d.y,
         |          SUM(n.z * o.dx * (2-abs(o.dy))) AS gx,
         |          SUM(n.z * o.dy * (2-abs(o.dx))) AS gy
         |        FROM demp d JOIN goo o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4),
         |goc AS (SELECT k, image_id, gx, gy,
         |          CASE
         |            WHEN gx = 0 AND gy = 0 THEN 8
         |            $OctantCases
         |          END AS oct
         |        FROM gog)
         |SELECT image_id, CAST(oct AS BIGINT) AS octant,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(gx*gx + gy*gy) AS BIGINT) AS mag2_sum
         |FROM goc GROUP BY 1, 2 ORDER BY image_id, octant""".stripMargin)),

    // 7×7 box filter via a summed-area table: O(1) per pixel vs the
    // oracle's naive O(k²) window scan — identical integers
    Gate("q_integral_box", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("ib", graft.ops.Vision.integralBoxAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(3)))
        .select(col("image_id"), col("ib._1").as("n_eval"),
          col("ib._2").as("box_sum"), col("ib._3").as("box_max"),
          col("ib._4").as("chk"))
        .where(col("n_eval") > 0)
        .orderBy("image_id"),
      // naive O(k²) 7×7 window scan — the engine's summed-area table
      // must produce the identical integers in O(1) per pixel
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |ibo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest(generate_series(-3, 3)) AS dx) a,
         |             (SELECT unnest(generate_series(-3, 3)) AS dy) b),
         |ibs AS (SELECT c.k, c.image_id, c.x, c.y, SUM(n.z) AS bs
         |        FROM demp c JOIN ibo o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 3 AND c.x <= c.w-4
         |          AND c.y >= 3 AND c.y <= c.h-4
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(bs) AS BIGINT) AS box_sum,
         |  CAST(MAX(bs) AS BIGINT) AS box_max,
         |  CAST(SUM(bs*(x + 131*y)) AS BIGINT) AS chk
         |FROM ibs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // unsharp mask (USM sharpen, k=1, r=2): q-scaled output
    // U = 2·25·v − box25 exact; SAT gives O(1)/pixel at any radius
    Gate("q_unsharp", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("um", graft.ops.Vision.unsharpAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(2)))
        .select(col("image_id"), col("um._1").as("n_eval"),
          col("um._2").as("u_sum"), col("um._3").as("n_up"),
          col("um._4").as("chk"))
        .where(col("n_eval") > 0)
        .orderBy("image_id"),
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |umo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest(generate_series(-2, 2)) AS dx) a,
         |             (SELECT unnest(generate_series(-2, 2)) AS dy) b),
         |ums AS (SELECT c.k, c.image_id, c.x, c.y,
         |          2*25*ANY_VALUE(c.z) - SUM(n.z) AS u,
         |          ANY_VALUE(c.z) AS v
         |        FROM demp c JOIN umo o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 2 AND c.x <= c.w-3
         |          AND c.y >= 2 AND c.y <= c.h-3
         |        GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(u) AS BIGINT) AS u_sum,
         |  CAST(SUM(CASE WHEN u > 25*v THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_up,
         |  CAST(SUM(u*(x + 131*y)) AS BIGINT) AS chk
         |FROM ums GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Canny-lite edge chain: integer central-diff gradient →
    // octant-quantized NMS → double threshold → hysteresis BFS
    Gate("q_canny", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("c", graft.ops.Vision.cannyAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(250000L), lit(1000000L)))
        .select(col("image_id"), col("c._1").as("n_nms"),
          col("c._2").as("n_strong"), col("c._3").as("n_edge"),
          col("c._4").as("chk"))
        .where(col("n_nms") > 0)
        .orderBy("image_id"),
      // Canny-lite: central-diff gradient, octant-axis NMS (the
      // q_grad_octants CASE ladder mod 4), double threshold, hysteresis
      // as recursive reachability from strong through the survivor set
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |cg AS (SELECT c.k, c.image_id, c.x, c.y,
         |         e.z - w2.z AS gx, s2.z - n2.z AS gy
         |       FROM demp c
         |       JOIN demp e  ON e.k = c.k  AND e.x = c.x+1 AND e.y = c.y
         |       JOIN demp w2 ON w2.k = c.k AND w2.x = c.x-1 AND w2.y = c.y
         |       JOIN demp s2 ON s2.k = c.k AND s2.x = c.x AND s2.y = c.y+1
         |       JOIN demp n2 ON n2.k = c.k AND n2.x = c.x AND n2.y = c.y-1),
         |cmg AS (SELECT k, image_id, x, y, gx*gx + gy*gy AS m2,
         |         (CASE
         |            WHEN gx = 0 AND gy = 0 THEN 0
         |            $OctantCases
         |          END) % 4 AS axis
         |        FROM cg),
         |csur AS (SELECT c.k, c.image_id, c.x, c.y, c.m2,
         |           CASE WHEN c.m2 >= 1000000 THEN 1 ELSE 0 END AS strong
         |         FROM cmg c JOIN d8 d ON d.code = c.axis
         |         LEFT JOIN cmg nn ON nn.k = c.k AND nn.x = c.x + d.dx
         |           AND nn.y = c.y + d.dy
         |         LEFT JOIN cmg pp ON pp.k = c.k AND pp.x = c.x - d.dx
         |           AND pp.y = c.y - d.dy
         |         WHERE c.m2 >= 250000
         |           AND c.m2 > COALESCE(nn.m2, -1)
         |           AND c.m2 >= COALESCE(pp.m2, -1)),
         |creach AS (
         |  SELECT k, x, y FROM csur WHERE strong = 1
         |  UNION
         |  SELECT sv.k, sv.x, sv.y
         |  FROM creach r JOIN d8 d ON TRUE
         |  JOIN csur sv ON sv.k = r.k AND sv.x = r.x + d.dx
         |    AND sv.y = r.y + d.dy),
         |cstat AS (SELECT k, image_id, COUNT(*) AS n_nms,
         |            SUM(strong) AS n_strong FROM csur GROUP BY 1, 2),
         |cedge AS (SELECT k, COUNT(*) AS n_edge, SUM(x + 131*y) AS chk
         |          FROM creach GROUP BY 1)
         |SELECT t.image_id, CAST(t.n_nms AS BIGINT) AS n_nms,
         |  CAST(t.n_strong AS BIGINT) AS n_strong,
         |  CAST(COALESCE(e.n_edge, 0) AS BIGINT) AS n_edge,
         |  CAST(COALESCE(e.chk, 0) AS BIGINT) AS chk
         |FROM cstat t LEFT JOIN cedge e ON e.k = t.k
         |ORDER BY t.image_id""".stripMargin)),

    // exhaustive-search SAD block motion between epochs 0 and 3,
    // with a per-image planted shift (k%5−2, k%3−1) the search must
    // recover: per-image winning-displacement histogram + SAD sums
    Gate("q_block_motion", (s, dir) =>
      Synth.demEpochStacks(s, dir, 4, Seq(0, 3))
        .withColumn("r", explode(graft.ops.Vision.blockMotionAgg(
          col("w").cast("int"), col("h").cast("int"),
          (col("k") % 5 - 2).cast("int"), (col("k") % 3 - 1).cast("int"),
          col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("dx"),
          col("r._2").cast("long").as("dy"), col("r._3").as("n_blocks"),
          col("r._4").as("sad_sum"))
        .orderBy("image_id", "dx", "dy"),
      // exhaustive 8×8-block SAD over d ∈ [−2,2]²; winner via
      // MIN(struct(sad, code)) — smallest-code tie like the kernel
      Some(s"""WITH $I, $SimgCte,
         |mep AS (SELECT unnest([0, 3]) AS t),
         |mtv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN mep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |mv0 AS (SELECT k, x, y, v FROM mtv WHERE t = 0),
         |mv3 AS (SELECT k, x, y, v FROM mtv WHERE t = 3),
         |mblk AS (SELECT s.k, bx.v AS x0, by2.v AS y0
         |         FROM simg s
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(2,
         |           CAST(s.w-10 AS INT), 8)) AS v) bx
         |         CROSS JOIN LATERAL (SELECT unnest(generate_series(2,
         |           CAST(s.h-10 AS INT), 8)) AS v) by2),
         |mdis AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest(generate_series(-2, 2)) AS dx) a,
         |              (SELECT unnest(generate_series(-2, 2)) AS dy) b),
         |msad AS (SELECT b.k, b.x0, b.y0, d.dx, d.dy,
         |           SUM(ABS(r.v - c.v)) AS sad
         |         FROM mblk b JOIN mdis d ON TRUE
         |         JOIN mv3 r ON r.k = b.k
         |           AND r.x >= b.x0 + (b.k%5 - 2)
         |           AND r.x < b.x0 + 8 + (b.k%5 - 2)
         |           AND r.y >= b.y0 + (b.k%3 - 1)
         |           AND r.y < b.y0 + 8 + (b.k%3 - 1)
         |         JOIN mv0 c ON c.k = r.k
         |           AND c.x = r.x - (b.k%5 - 2) + d.dx
         |           AND c.y = r.y - (b.k%3 - 1) + d.dy
         |         GROUP BY 1, 2, 3, 4, 5),
         |mwin AS (SELECT k, x0, y0,
         |           (MIN(struct_pack(s := sad, c := (dy+2)*5 + (dx+2)))).s AS ws,
         |           (MIN(struct_pack(s := sad, c := (dy+2)*5 + (dx+2)))).c AS wc
         |         FROM msad GROUP BY 1, 2, 3)
         |SELECT s.image_id, CAST(wc % 5 - 2 AS BIGINT) AS dx,
         |  CAST(wc // 5 - 2 AS BIGINT) AS dy,
         |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(ws) AS BIGINT) AS sad_sum
         |FROM mwin m JOIN simg s ON s.k = m.k
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // vertical min-energy seam DP (seam carving): per-image seam
    // cost, seam-exit column, bottom-DP-row checksum
    Gate("q_seam", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", graft.ops.Vision.seamAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_cols"),
          col("r._2").as("seam_cost"), col("r._3").as("seam_x"),
          col("r._4").as("dp_sum"))
        .orderBy("image_id"),
      // seam DP as a strictly-increasing-y recursive CTE: row y+1's
      // min-parent via scatter + GROUP BY in the derived table
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte,
         |sen AS (SELECT c.k, c.image_id, c.h, c.x, c.y,
         |          ABS(se.z - sw2.z) + ABS(ss2.z - sn2.z) AS en
         |        FROM demp c
         |        JOIN demp se  ON se.k = c.k AND se.x = c.x+1
         |          AND se.y = c.y
         |        JOIN demp sw2 ON sw2.k = c.k AND sw2.x = c.x-1
         |          AND sw2.y = c.y
         |        JOIN demp ss2 ON ss2.k = c.k AND ss2.x = c.x
         |          AND ss2.y = c.y+1
         |        JOIN demp sn2 ON sn2.k = c.k AND sn2.x = c.x
         |          AND sn2.y = c.y-1),
         |sdp AS (
         |  SELECT k, image_id, h, x, y, en AS m FROM sen WHERE y = 1
         |  UNION ALL
         |  SELECT c.k, c.image_id, c.h, c.x, c.y, c.en + c.pm AS m
         |  FROM (
         |    SELECT n.k, n.image_id, n.h, n.x, n.y, n.en, MIN(p.m) AS pm
         |    FROM sdp p JOIN sen n ON n.k = p.k AND n.y = p.y + 1
         |      AND n.x BETWEEN p.x - 1 AND p.x + 1
         |    GROUP BY 1, 2, 3, 4, 5, 6
         |  ) c),
         |sbot AS (SELECT k, x, m FROM sdp WHERE y = h - 2)
         |SELECT s.image_id, CAST(s.w - 2 AS BIGINT) AS n_cols,
         |  CAST((MIN(struct_pack(m := b.m, x := b.x))).m AS BIGINT)
         |    AS seam_cost,
         |  CAST((MIN(struct_pack(m := b.m, x := b.x))).x AS BIGINT)
         |    AS seam_x,
         |  CAST(SUM(b.m) AS BIGINT) AS dp_sum
         |FROM sbot b JOIN simg s ON s.k = b.k
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // per-scanline RLE of the DEM z%7<3 mask: run count / max run /
    // Σ len² / placement checksum
    Gate("q_rle", (s, dir) => {
      val f = udf((bytes: Array[Byte], w: Int, h: Int) => {
        val z = graft.core.Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
        val m = Array.tabulate(w * h)(i => z(i).toLong % 7 < 3)
        graft.ops.Vision.rleRuns(m, w, h)
      })
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", f(col("dem_bytes"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_runs"),
          col("r._2").as("max_run"), col("r._3").as("len_sq_sum"),
          col("r._4").as("chk"))
        .orderBy("image_id")
    },
      // islands pattern: run = group of consecutive x per (k, y)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |rlm AS (SELECT k, image_id, x, y FROM demp WHERE z % 7 < 3),
         |rlg AS (SELECT k, image_id, y, x,
         |          x - ROW_NUMBER() OVER (PARTITION BY k, y ORDER BY x)
         |            AS grp
         |        FROM rlm),
         |rlr AS (SELECT k, image_id, y, MIN(x) AS x0, COUNT(*) AS len
         |        FROM rlg GROUP BY k, image_id, y, grp)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
         |  CAST(MAX(len) AS BIGINT) AS max_run,
         |  CAST(SUM(len*len) AS BIGINT) AS len_sq_sum,
         |  CAST(SUM(len*(x0 + 131*y)) AS BIGINT) AS chk
         |FROM rlr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // hole filling by border flood (background reconstruction):
    // background 4-connected to the frame stays open, the rest are
    // holes — per-image hole/open counts + hole checksum
    Gate("q_fill_holes", (s, dir) => {
      val f = udf((bytes: Array[Byte], w: Int, h: Int) => {
        val z = graft.core.Codec.decode(bytes, w, h, 1, "raw-i16le")(0)
        val m = Array.tabulate(w * h)(i => z(i).toLong % 7 < 3)
        graft.ops.Vision.fillHoles(m, w, h)
      })
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", f(col("dem_bytes"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_hole_px"),
          col("r._2").as("n_bg_open"), col("r._3").as("chk"))
        .orderBy("image_id")
    },
      // border-background reachability via recursive 4-adjacency;
      // holes = background minus the reachable set (anti-join)
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte,
         |d4 AS (SELECT * FROM (VALUES (1,0),(-1,0),(0,1),(0,-1))
         |  AS t(dx, dy)),
         |hbg AS (SELECT k, image_id, w, h, x, y FROM demp
         |        WHERE z % 7 >= 3),
         |hreach AS (
         |  SELECT k, x, y FROM hbg
         |  WHERE x = 0 OR y = 0 OR x = w-1 OR y = h-1
         |  UNION
         |  SELECT b.k, b.x, b.y
         |  FROM hreach r JOIN d4 d ON TRUE
         |  JOIN hbg b ON b.k = r.k AND b.x = r.x + d.dx
         |    AND b.y = r.y + d.dy),
         |hstat AS (SELECT k, image_id FROM hbg GROUP BY 1, 2),
         |hop AS (SELECT k, COUNT(*) AS n_open FROM hreach GROUP BY 1),
         |hho AS (SELECT b.k, COUNT(*) AS n_hole,
         |          SUM(b.x + 131*b.y) AS chk
         |        FROM hbg b LEFT JOIN hreach r ON r.k = b.k
         |          AND r.x = b.x AND r.y = b.y
         |        WHERE r.x IS NULL GROUP BY 1)
         |SELECT t.image_id,
         |  CAST(COALESCE(h2.n_hole, 0) AS BIGINT) AS n_hole_px,
         |  CAST(COALESCE(o.n_open, 0) AS BIGINT) AS n_bg_open,
         |  CAST(COALESCE(h2.chk, 0) AS BIGINT) AS chk
         |FROM hstat t LEFT JOIN hop o ON o.k = t.k
         |LEFT JOIN hho h2 ON h2.k = t.k
         |ORDER BY t.image_id""".stripMargin)),

    // local mean/variance via twin summed-area tables (adaptive-
    // threshold building block, divide-free): 5×5 windows
    Gate("q_local_stats", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", graft.ops.Vision.localStatsAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(2)))
        .select(col("image_id"), col("r._1").as("n_eval"),
          col("r._2").as("n_above"), col("r._3").as("var_sum"),
          col("r._4").as("var_max"), col("r._5").as("chk"))
        .orderBy("image_id"),
      // naive 5×5 window sums of z and z²; V = 25·Σz² − (Σz)²
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |lso AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest(generate_series(-2, 2)) AS dx) a,
         |             (SELECT unnest(generate_series(-2, 2)) AS dy) b),
         |lsb AS (SELECT c.k, c.image_id, c.x, c.y, c.z,
         |          SUM(n.z) AS s1, SUM(n.z*n.z) AS s2
         |        FROM demp c JOIN lso o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 2 AND c.x <= c.w-3
         |          AND c.y >= 2 AND c.y <= c.h-3
         |        GROUP BY 1, 2, 3, 4, 5),
         |lsv AS (SELECT k, image_id, x, y, 25*s2 - s1*s1 AS v,
         |          CASE WHEN 25*z > s1 THEN 1 ELSE 0 END AS ab
         |        FROM lsb)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(ab) AS BIGINT) AS n_above,
         |  CAST(SUM(v) AS BIGINT) AS var_sum,
         |  CAST(MAX(v) AS BIGINT) AS var_max,
         |  CAST(SUM(v*(x + 131*y)) % 1099511627776 AS BIGINT) AS chk
         |FROM lsv GROUP BY 1 ORDER BY 1""".stripMargin)),

    // FAST-16 segment-test corners (≥9 contiguous bright/dark on
    // the radius-3 circle, t = 100)
    Gate("q_fast", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", graft.ops.Vision.fastAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(100L)))
        .select(col("image_id"), col("r._1").as("n_eval"),
          col("r._2").as("n_corners"), col("r._3").as("chk"))
        .orderBy("image_id"),
      // circular contiguity via doubled bitstring LIKE; the circle is
      // the same 16-offset table as the kernel
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |fco AS (SELECT * FROM (VALUES
         |  (0,0,-3),(1,1,-3),(2,2,-2),(3,3,-1),(4,3,0),(5,3,1),
         |  (6,2,2),(7,1,3),(8,0,3),(9,-1,3),(10,-2,2),(11,-3,1),
         |  (12,-3,0),(13,-3,-1),(14,-2,-2),(15,-1,-3))
         |  AS t(i, dx, dy)),
         |fcb AS (SELECT c.k, c.image_id, c.x, c.y, o.i,
         |          CASE WHEN n.z >= c.z + 100 THEN '1' ELSE '0' END AS bb,
         |          CASE WHEN n.z <= c.z - 100 THEN '1' ELSE '0' END AS db
         |        FROM demp c JOIN fco o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 3 AND c.x <= c.w-4
         |          AND c.y >= 3 AND c.y <= c.h-4),
         |fcs AS (SELECT k, image_id, x, y,
         |          string_agg(bb, '' ORDER BY i) AS bstr,
         |          string_agg(db, '' ORDER BY i) AS dstr
         |        FROM fcb GROUP BY 1, 2, 3, 4),
         |fcc AS (SELECT k, image_id, x, y FROM fcs
         |        WHERE (bstr || bstr) LIKE '%111111111%'
         |           OR (dstr || dstr) LIKE '%111111111%'),
         |fne AS (SELECT k, image_id, COUNT(*) AS n_eval
         |        FROM fcs GROUP BY 1, 2),
         |fnc AS (SELECT k, COUNT(*) AS n_corners,
         |          SUM(x + 131*y) AS chk FROM fcc GROUP BY 1)
         |SELECT e.image_id, CAST(e.n_eval AS BIGINT) AS n_eval,
         |  CAST(COALESCE(c.n_corners, 0) AS BIGINT) AS n_corners,
         |  CAST(COALESCE(c.chk, 0) AS BIGINT) AS chk
         |FROM fne e LEFT JOIN fnc c ON c.k = e.k
         |ORDER BY e.image_id""".stripMargin)),

    // bilinear Bayer demosaic (RGGB, ×4 integer scale): per-image
    // reconstructed-plane sums + placement checksum
    Gate("q_demosaic", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("r", graft.ops.Vision.demosaicAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("r._1").as("n_int"),
          col("r._2").as("r4_sum"), col("r._3").as("g4_sum"),
          col("r._4").as("b4_sum"), col("r._5").as("chk"))
        .orderBy("image_id"),
      // RGGB parity CASE over the 8-neighbor sums
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |dmo AS (SELECT a.dx, b.dy
         |        FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |             (SELECT unnest([-1,0,1]) AS dy) b
         |        WHERE NOT (a.dx = 0 AND b.dy = 0)),
         |dmn AS (SELECT c.k, c.image_id, c.x, c.y, c.z,
         |          SUM(CASE WHEN o.dy = 0 THEN n.z ELSE 0 END) AS horiz,
         |          SUM(CASE WHEN o.dx = 0 THEN n.z ELSE 0 END) AS vert,
         |          SUM(CASE WHEN o.dx != 0 AND o.dy != 0 THEN n.z
         |              ELSE 0 END) AS diag
         |        FROM demp c JOIN dmo o ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |          AND n.y = c.y + o.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY 1, 2, 3, 4, 5),
         |dmc AS (SELECT k, image_id, x, y,
         |          CASE WHEN x%2 = 0 AND y%2 = 0 THEN 4*z
         |               WHEN x%2 = 1 AND y%2 = 0 THEN 2*horiz
         |               WHEN x%2 = 0 AND y%2 = 1 THEN 2*vert
         |               ELSE diag END AS r4,
         |          CASE WHEN (x+y)%2 = 1 THEN 4*z
         |               ELSE horiz + vert END AS g4,
         |          CASE WHEN x%2 = 1 AND y%2 = 1 THEN 4*z
         |               WHEN x%2 = 0 AND y%2 = 1 THEN 2*horiz
         |               WHEN x%2 = 1 AND y%2 = 0 THEN 2*vert
         |               ELSE diag END AS b4
         |        FROM dmn)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(r4) AS BIGINT) AS r4_sum,
         |  CAST(SUM(g4) AS BIGINT) AS g4_sum,
         |  CAST(SUM(b4) AS BIGINT) AS b4_sum,
         |  CAST(SUM((r4 + 2*g4 + 3*b4)*(x + 131*y)) AS BIGINT) AS chk
         |FROM dmc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // histogram matching epoch 0 → epoch 3 (radiometric
    // normalization LUT): per-image shift mass + mapped checksums
    Gate("q_hist_match", (s, dir) =>
      Synth.demEpochStacks(s, dir, 4, Seq(0, 3))
        .withColumn("r", graft.ops.Terrain.histMatchAgg(
          col("w").cast("int"), col("h").cast("int"),
          lit(0), lit(3), col("eps")))
        .select(col("image_id"), col("r._1").as("n_px"),
          col("r._2").as("shift_sum"), col("r._3").as("lut_sum"),
          col("r._4").as("chk"))
        .orderBy("image_id"),
      // LUT(v) = min ref value with cdf_ref ≥ cdf_src, via a per-image
      // cdf-inequality join + MIN over the distinct-value tables
      Some(s"""WITH $I, $SimgCte,
         |hep AS (SELECT unnest([0, 3]) AS t),
         |htv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN hep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |hsrc AS (SELECT k, image_id, x, y, v FROM htv WHERE t = 0),
         |href AS (SELECT k, v FROM htv WHERE t = 3),
         |hsc AS (SELECT k, v, COUNT(*) AS c FROM hsrc GROUP BY 1, 2),
         |hscc AS (SELECT k, v,
         |           SUM(c) OVER (PARTITION BY k ORDER BY v) AS cdf
         |         FROM hsc),
         |hrc AS (SELECT k, v, COUNT(*) AS c FROM href GROUP BY 1, 2),
         |hrcc AS (SELECT k, v,
         |           SUM(c) OVER (PARTITION BY k ORDER BY v) AS cdf
         |         FROM hrc),
         |hlut AS (SELECT s.k, s.v, MIN(r.v) AS u
         |         FROM hscc s JOIN hrcc r ON r.k = s.k
         |           AND r.cdf >= s.cdf
         |         GROUP BY 1, 2),
         |hmap AS (SELECT p.k, p.image_id, p.x, p.y, p.v, l.u
         |         FROM hsrc p JOIN hlut l ON l.k = p.k AND l.v = p.v)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(ABS(u - v)) AS BIGINT) AS shift_sum,
         |  CAST(SUM(u) AS BIGINT) AS lut_sum,
         |  CAST(SUM(u*(x + 131*y)) AS BIGINT) AS chk
         |FROM hmap GROUP BY 1 ORDER BY 1""".stripMargin)),

    // joint histogram between epochs 0 and 3 (the change matrix /
    // MI registration building block): 256-wide bins, exact counts
    Gate("q_joint_hist", (s, dir) =>
      Synth.demEpochStacks(s, dir, 4, Seq(0, 3))
        .withColumn("r", explode(graft.ops.Terrain.jointHistAgg(
          col("w").cast("int"), col("h").cast("int"),
          lit(0), lit(3), col("eps"))))
        .select(col("image_id"), col("r._1").as("b0"),
          col("r._2").as("b3"), col("r._3").as("n_px"),
          col("r._4").as("dsum"))
        .orderBy("image_id", "b0", "b3"),
      // joint change matrix: pivot epochs 0/3 per pixel, bin div 256
      Some(s"""WITH $I, $SimgCte,
         |$DemEpochPairCte
         |SELECT image_id, CAST(v0 // 256 AS BIGINT) AS b0,
         |  CAST(v3 // 256 AS BIGINT) AS b3,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(v3 - v0) AS BIGINT) AS dsum
         |FROM jp GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // classifier EVALUATION: the confusion matrix over the val split
    // — one classes²-bounded rollup of the q_classify output
    Gate("q_confusion", (s, dir) =>
      graft.text.TextOps.classAffinity(Synth.documents(s, dir), 200)
        .groupBy(col("lang").as("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang"),
      // confusion replay: the q_classify chain rolled up per
      // (true, predicted) cell
      Some(s"""WITH $ClassifyCtes
        |SELECT lang AS true_lang, l AS pred_lang,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM crk WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // shot-boundary detection over the 6-epoch stack (video clip
    // splitting): SAD of consecutive 128-wide intensity histograms,
    // cut fires when 128·SAD > n_px — one decode per frame, exact ints
    Gate("q_shot_cuts", (s, dir) =>
      Synth.demEpochStacks(s, dir, 6)
        .withColumn("r", explode(graft.ops.Terrain.shotCutAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("t_from"),
          col("r._2").as("sad"), col("r._3").as("is_cut"))
        .orderBy("image_id", "t_from"),
      // shot-cut ground truth: per (k, bin) conditional counts c0..c5,
      // SAD_t via a CASE ladder over the 5 consecutive pairs
      Some(s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |ttv AS (SELECT s.k, s.image_id, s.w, s.h, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |shb AS (SELECT k, image_id, w, h, v // 128 AS b,
         |          SUM(CASE WHEN t=0 THEN 1 ELSE 0 END) AS c0,
         |          SUM(CASE WHEN t=1 THEN 1 ELSE 0 END) AS c1,
         |          SUM(CASE WHEN t=2 THEN 1 ELSE 0 END) AS c2,
         |          SUM(CASE WHEN t=3 THEN 1 ELSE 0 END) AS c3,
         |          SUM(CASE WHEN t=4 THEN 1 ELSE 0 END) AS c4,
         |          SUM(CASE WHEN t=5 THEN 1 ELSE 0 END) AS c5
         |        FROM ttv GROUP BY 1, 2, 3, 4, 5),
         |sft AS (SELECT unnest(generate_series(0, 4)) AS tf),
         |ssd AS (SELECT k, image_id, w, h, CAST(f.tf AS BIGINT) AS t_from,
         |          SUM(ABS(
         |            (CASE f.tf WHEN 0 THEN c0 WHEN 1 THEN c1
         |              WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END) -
         |            (CASE f.tf WHEN 0 THEN c1 WHEN 1 THEN c2
         |              WHEN 2 THEN c3 WHEN 3 THEN c4 ELSE c5 END))) AS sad
         |        FROM shb CROSS JOIN sft f GROUP BY 1, 2, 3, 4, 5)
         |SELECT image_id, t_from, CAST(sad AS BIGINT) AS sad,
         |  CAST(CASE WHEN 128*sad > w*h THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_cut
         |FROM ssd ORDER BY 1, 2""".stripMargin)),

    // end-to-end VIDEO curation pipeline (the clip-extraction recipe
    // of a multimodal training-data curator), composed from the
    // relational pieces: histogram-SAD shot cuts segment each 6-frame
    // stack into clips (clip id = #cuts before t), the middle frame
    // is the keyframe, and the clip ships iff its keyframe passes the
    // variance-of-Laplacian sharpness gate. One decode pass for the
    // cut scan + one for the kept keyframes; everything between is
    // joins/aggregates keyed on the video id.
    Gate("q_curate_video", (s, dir) => {
      val eps = Synth.demEpochImages(s, dir, 6, Synth.smallRaw)
      val cuts = eps.groupBy("k", "image_id", "w", "h")
        .agg(collect_list(struct(col("t").cast("int").as("t"),
          col("bytes"))).as("e"))
        .withColumn("r", explode(graft.ops.Terrain.shotCutAgg(
          col("w").cast("int"), col("h").cast("int"), col("e"))))
        .select(col("image_id").as("c_vid"),
          col("r._1").cast("long").as("t_from"), col("r._3").as("cut"))
        .where(col("cut") === 1)
      val frames = eps.select(col("image_id"), col("t"))
      val cid = frames.join(cuts,
          frames("image_id") === col("c_vid") && col("t_from") < col("t"),
          "left")
        .groupBy(col("image_id"), col("t"))
        .agg(count(col("c_vid")).as("clip_id"))
      val clips = cid.groupBy(col("image_id"), col("clip_id"))
        .agg(min(col("t")).as("t_start"), max(col("t")).as("t_end"))
        .withColumn("kf",
          graft.ops.Tiling.idiv(col("t_start") + col("t_end"), lit(2L)))
      clips.join(eps.select(col("image_id").as("e_vid"), col("t"),
            col("bytes"), col("w"), col("h")),
          col("e_vid") === clips("image_id") && col("t") === col("kf"))
        .withColumn("bf", graft.ops.Vision.blurScoreAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), lit(1600000L)))
        .select(col("image_id"), col("clip_id"),
          col("t_start").cast("long").as("t_start"),
          col("t_end").cast("long").as("t_end"), col("kf"),
          col("bf._4").as("score"), col("bf._5").as("kept"))
        .orderBy("image_id", "clip_id")
    },
      // video-curation ground truth: the shot-cut CTE feeds clip-id
      // assignment (count of cuts before t), keyframe = (start+end)//2,
      // then the Laplacian-variance gate via 4 neighbor self-joins on
      // the keyframe epoch's value formula
      Some(s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |vtv AS (SELECT s.k, s.image_id, s.w, s.h, e.t, xs.x, ys.y,
         |          $TrendValue
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |vhb AS (SELECT k, image_id, w, h, v // 128 AS b,
         |          SUM(CASE WHEN t=0 THEN 1 ELSE 0 END) AS c0,
         |          SUM(CASE WHEN t=1 THEN 1 ELSE 0 END) AS c1,
         |          SUM(CASE WHEN t=2 THEN 1 ELSE 0 END) AS c2,
         |          SUM(CASE WHEN t=3 THEN 1 ELSE 0 END) AS c3,
         |          SUM(CASE WHEN t=4 THEN 1 ELSE 0 END) AS c4,
         |          SUM(CASE WHEN t=5 THEN 1 ELSE 0 END) AS c5
         |        FROM vtv GROUP BY 1, 2, 3, 4, 5),
         |vft AS (SELECT unnest(generate_series(0, 4)) AS tf),
         |vsd AS (SELECT k, image_id, w, h, f.tf AS t_from,
         |          SUM(ABS(
         |            (CASE f.tf WHEN 0 THEN c0 WHEN 1 THEN c1
         |              WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END) -
         |            (CASE f.tf WHEN 0 THEN c1 WHEN 1 THEN c2
         |              WHEN 2 THEN c3 WHEN 3 THEN c4 ELSE c5 END))) AS sad
         |        FROM vhb CROSS JOIN vft f GROUP BY 1, 2, 3, 4, 5),
         |vct AS (SELECT k, image_id, t_from FROM vsd
         |        WHERE 128*sad > w*h),
         |vfr AS (SELECT s.k, s.image_id, e.t FROM simg s
         |        CROSS JOIN tep e),
         |vcid AS (SELECT f.k, f.image_id, f.t,
         |          CAST(COUNT(c.t_from) AS BIGINT) AS clip_id
         |        FROM vfr f LEFT JOIN vct c ON c.k = f.k
         |          AND c.t_from < f.t
         |        GROUP BY 1, 2, 3),
         |vclip AS (SELECT k, image_id, clip_id,
         |           CAST(MIN(t) AS BIGINT) AS t_start,
         |           CAST(MAX(t) AS BIGINT) AS t_end,
         |           CAST((MIN(t)+MAX(t))//2 AS BIGINT) AS kf
         |         FROM vcid GROUP BY 1, 2, 3),
         |vlap AS (SELECT cl.k, cl.clip_id,
         |           4*c.v - l.v - r.v - u.v - d.v AS lv
         |         FROM vclip cl
         |         JOIN vtv c ON c.k = cl.k AND c.t = cl.kf
         |         JOIN vtv l ON l.k = c.k AND l.t = c.t
         |           AND l.x = c.x-1 AND l.y = c.y
         |         JOIN vtv r ON r.k = c.k AND r.t = c.t
         |           AND r.x = c.x+1 AND r.y = c.y
         |         JOIN vtv u ON u.k = c.k AND u.t = c.t
         |           AND u.x = c.x AND u.y = c.y-1
         |         JOIN vtv d ON d.k = c.k AND d.t = c.t
         |           AND d.x = c.x AND d.y = c.y+1
         |         WHERE c.x BETWEEN 1 AND c.w-2
         |           AND c.y BETWEEN 1 AND c.h-2),
         |vbag AS (SELECT k, clip_id, CAST(COUNT(*) AS BIGINT) AS n,
         |           CAST(SUM(lv) AS BIGINT) AS s,
         |           CAST(SUM(lv*lv) AS BIGINT) AS s2
         |         FROM vlap GROUP BY 1, 2)
         |SELECT cl.image_id, cl.clip_id, cl.t_start, cl.t_end, cl.kf,
         |  CAST(b.n*b.s2 - b.s*b.s AS BIGINT) AS score,
         |  CAST(CASE WHEN b.n*b.s2 - b.s*b.s > 1600000*b.n*b.n
         |       THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM vclip cl JOIN vbag b ON b.k = cl.k
         |  AND b.clip_id = cl.clip_id
         |ORDER BY 1, 2""".stripMargin)),

    // lossless geometric AUGMENTATION (hflip + rot90) on band 0:
    // per image two rows with a POSITION-weighted checksum
    // (Σ DN·10⁶·outIdx) — sensitive to where every pixel landed, so
    // the remap itself is value-checked, not just the multiset of DNs
    Gate("q_augment", (s, dir) => {
      val aug = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        import graft.ops.Augment
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val f = Augment.posChecksum(Augment.flipH(p, w, h))
        val r = Augment.posChecksum(Augment.rot90(p, w, h))
        Seq(("hflip", f._1, f._2), ("rot90", r._1, r._2))
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("a", explode(aug(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"), col("a._1").as("op"),
          col("a._2").as("n_valid"), col("a._3").as("checksum"))
        .orderBy("image_id", "op")
    },
      // the remapped output index is computed from the ORIGINAL (x,y):
      // hflip idx = y·w + (w−1−x), rot90 idx = x·h + (h−1−y); DN·10⁶
      // is integer-exact so the weighted sum replays exactly
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |a AS (
         |  SELECT s.image_id, 'hflip' AS op, COUNT(*) AS n_valid,
         |    SUM(CAST(px.v AS BIGINT) * 1000000 *
         |        (px.y * s.w + (s.w - 1 - px.x))) AS cs
         |  FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT s.image_id, 'rot90', COUNT(*),
         |    SUM(CAST(px.v AS BIGINT) * 1000000 *
         |        (px.x * s.h + (s.h - 1 - px.y)))
         |  FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0 GROUP BY 1, 2)
         |SELECT image_id, op, CAST(n_valid AS BIGINT) AS n_valid,
         |  CAST(cs AS BIGINT) AS checksum
         |FROM a ORDER BY image_id, op""".stripMargin)),

    // ViT-style PATCHIFY: the 16×16 non-overlapping patch grid per
    // image (ragged edges clipped), one row per patch with a
    // patch-local position-weighted checksum — the image analog of
    // sequence packing (what a ViT embedding layer consumes)
    Gate("q_patchify", (s, dir) => {
      val pat = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        graft.ops.Augment.patchify(p, w, h, 16)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("t", explode(pat(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"))))
        .select(col("image_id"),
          col("t._1").cast("long").as("px"), col("t._2").cast("long").as("py"),
          col("t._3").as("n_valid"), col("t._4").as("checksum"))
        .orderBy("image_id", "py", "px")
    },
      // patch coords = (x//16, y//16); local weight = (y%16)·16 + x%16
      Some(s"""WITH $I, $B, $SimgCte, $PxCte
         |SELECT s.image_id,
         |  CAST(px.x // 16 AS BIGINT) AS px,
         |  CAST(px.y // 16 AS BIGINT) AS py,
         |  CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(px.v AS BIGINT) * 1000000 *
         |      ((px.y % 16) * 16 + (px.x % 16))) AS BIGINT) AS checksum
         |FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0
         |GROUP BY 1, 2, 3 ORDER BY image_id, py, px""".stripMargin)),

    // seeded RANDOM-CROP augmentation: the 12×12 window anchor is an
    // md5 draw over image_id (content-independent, reshuffle-stable —
    // the same determinism contract as the doc sampling ops), the
    // crop kernel runs on the decoded plane, and the checksum is
    // position-weighted over the crop's local grid
    Gate("q_augment_crop", (s, dir) => {
      val cs = 12
      val cropSum = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                         x0: Int, y0: Int) => {
        import graft.core.Codec
        import graft.ops.Augment
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        Augment.posChecksum(Augment.crop(p, w, h, x0, y0, cs, cs))
      })
      val x0 = pmod(graft.text.TextOps.md5Bucket(
        concat(col("image_id"), lit(":x"))), col("w") - (cs - 1))
      val y0 = pmod(graft.text.TextOps.md5Bucket(
        concat(col("image_id"), lit(":y"))), col("h") - (cs - 1))
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("x0", x0.cast("int")).withColumn("y0", y0.cast("int"))
        .withColumn("c", cropSum(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("x0"), col("y0")))
        .select(col("image_id"), col("x0").cast("long").as("x0"),
          col("y0").cast("long").as("y0"),
          col("c._1").as("n_valid"), col("c._2").as("checksum"))
        .orderBy("image_id")
    },
      // same md5 anchor draw in SQL; window filter over px + local
      // (y−y0)·12 + (x−x0) weights
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |anch AS (SELECT k, image_id, w, h,
         |    ${Md5BucketSql("image_id || ':x'")} % (w - 11) AS x0,
         |    ${Md5BucketSql("image_id || ':y'")} % (h - 11) AS y0
         |  FROM simg)
         |SELECT a.image_id, CAST(a.x0 AS BIGINT) AS x0,
         |  CAST(a.y0 AS BIGINT) AS y0,
         |  CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(px.v AS BIGINT) * 1000000 *
         |      ((px.y - a.y0) * 12 + (px.x - a.x0))) AS BIGINT)
         |    AS checksum
         |FROM px JOIN anch a ON a.k = px.k
         |WHERE px.b = 0 AND px.x >= a.x0 AND px.x < a.x0 + 12
         |  AND px.y >= a.y0 AND px.y < a.y0 + 12
         |GROUP BY 1, 2, 3 ORDER BY image_id""".stripMargin)),

    // end-to-end IMAGE curation pipeline (the image-side q_curate):
    // resolution guardrail → caption-exact keep-one → AR-bucket
    // batching of survivors → shard packing of survivors' real
    // payload bytes; dropped rows carry NULLs
    Gate("q_curate_images", (s, dir) =>
      graft.ops.Sharding.curateImages(
          // wider than Synth.smallRaw (w,h ≤ 96, exact raw codecs): the
          // ≤64 set shares caption congruences — only 2 captions —
          // which would leave the survivor path a single row
          Synth.imagesWithBytes(s, dir,
            _.where(col("w") <= 96 && col("h") <= 96 &&
              (col("k") % 6 === 1 || col("k") % 6 === 2))),
          Synth.ArLattice, 8, 65536L, 2, 4000L)
        .orderBy("image_id"),
      // composed image-curation replay: resolution flag + caption
      // keep-one pick the kept set, then the q_ar_buckets and
      // q_pack_shards fragments run over ONLY the survivors (the
      // pipeline coupling); dropped rows LEFT JOIN to NULLs
      Some(s"""WITH RECURSIVE $I,
         |cimg AS (SELECT * FROM img2
         |  WHERE w <= 96 AND h <= 96 AND k % 6 IN (1, 2)),
         |fl2 AS (SELECT s.image_id, s.w, s.h, s.fmt,
         |    CASE WHEN s.w*s.h <= 4000 THEN 1 ELSE 0 END AS pass_meta,
         |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY s.caption
         |      ORDER BY s.image_id) = 1 THEN 1 ELSE 0 END AS is_canonical,
         |    CASE WHEN s.w*s.h <= 4000 AND ROW_NUMBER() OVER (
         |      PARTITION BY s.caption ORDER BY s.image_id) = 1
         |      THEN 1 ELSE 0 END AS keep
         |  FROM cimg s),
         |kept AS (SELECT image_id, w, h, fmt FROM fl2 WHERE keep = 1),
         |bks(i, bw, bh) AS (VALUES (0,1,1),(1,4,3),(2,3,4),(3,16,9),
         |  (4,9,16),(5,3,2),(6,2,3),(7,2,1),(8,1,2)),
         |sc2 AS (SELECT g.image_id, b.i,
         |         ROW_NUMBER() OVER (PARTITION BY g.image_id ORDER BY
         |           CAST(ABS(g.w*b.bh - g.h*b.bw) AS DOUBLE) / b.bh,
         |           b.i) AS rk
         |       FROM kept g CROSS JOIN bks b),
         |asg AS (SELECT image_id, i,
         |          ${Md5BucketSql("image_id")} % 2 AS wtr
         |        FROM sc2 WHERE rk = 1),
         |arb AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY wtr, i
         |         ORDER BY image_id) - 1 AS rn FROM asg),
         |ar AS (SELECT image_id, CAST(i AS BIGINT) AS bucket,
         |         CAST(rn // 8 AS BIGINT) AS batch_idx FROM arb),
         |sized AS (SELECT image_id,
         |    CAST(CASE fmt WHEN 'raw-i16le' THEN 12*w*h
         |                  ELSE 24*w*h END AS BIGINT) AS nbytes,
         |    ${Md5BucketSql("image_id")} % 2 AS writer
         |  FROM kept),
         |it2 AS (SELECT image_id, nbytes, writer,
         |    ROW_NUMBER() OVER (PARTITION BY writer ORDER BY image_id)
         |      AS rn FROM sized),
         |rec2 AS (
         |  SELECT image_id, nbytes, writer, rn,
         |    CAST(0 AS BIGINT) AS shard, CAST(0 AS BIGINT) AS off,
         |    nbytes AS used
         |  FROM it2 WHERE rn = 1
         |  UNION ALL
         |  SELECT i.image_id, i.nbytes, i.writer, i.rn,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.shard
         |         ELSE r.shard + 1 END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used
         |         ELSE CAST(0 AS BIGINT) END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used + i.nbytes
         |         ELSE i.nbytes END
         |  FROM rec2 r JOIN it2 i ON i.writer = r.writer AND i.rn = r.rn + 1)
         |SELECT f.image_id,
         |  CAST(f.pass_meta AS BIGINT) AS pass_meta,
         |  CAST(f.is_canonical AS BIGINT) AS is_canonical,
         |  CAST(f.keep AS BIGINT) AS keep,
         |  ar.bucket, ar.batch_idx,
         |  CAST(rec2.writer AS BIGINT) AS writer, rec2.shard,
         |  rec2.off AS offset
         |FROM fl2 f
         |LEFT JOIN ar USING (image_id)
         |LEFT JOIN rec2 USING (image_id)
         |ORDER BY f.image_id""".stripMargin)),

    // PER-PIXEL LAZY CHAIN (§2.3, the reference's queued-function
    // read path): sqrt → +5 → ×2 over band 0 with the nodata-restore
    // rule. Every step is a correctly-rounded IEEE op applied in the
    // same order by both engines (sqrt is exactly rounded per IEEE
    // 754), so Σ floor(out·1e6) is value-exact in SQL — the chain
    // gate that was previously spec-only.
    Gate("q_chain_ops", (s, dir) => {
      val ch = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.{Codec, Pixels}
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        Pixels.validFloorSum(Pixels.applyChain(p,
          Seq(math.sqrt, (v: Double) => v + 5.0, (v: Double) => v * 2.0)), 1e6)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("c", ch(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("c._1").as("n_valid"),
          col("c._2").as("fsum"))
        .orderBy("image_id")
    },
      // chain sqrt → +5 → ×2: DuckDB sqrt/+/× are the same correctly-
      // rounded IEEE doubles in the same order
      Some(s"""WITH $I, $B, $SimgCte, $PxCte
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(FLOOR((SQRT(CAST(px.v AS DOUBLE)) + 5.0) * 2.0
         |    * 1e6) AS BIGINT)) AS BIGINT) AS fsum
         |FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // connected-component labeling (blob extraction, 8-connectivity)
    // on the diagonal-stripe mask (p3-p2 > 0, (p3-p2) % 5 in {1,2}):
    // canonical label = min linear pixel index per component; the
    // oracle floods min-labels through a bounded recursive CTE
    Gate("q_blob_labels", (s, dir) => {
      val bl = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Pixels
        val fg = Synth.stripeMask(bytes, w, h, fmt)
        val lab = Pixels.labelComponents(fg, w, h)
        val sizes = new java.util.HashMap[Int, Long]()
        var i = 0
        while (i < lab.length) {
          if (lab(i) >= 0) sizes.merge(lab(i), 1L, _ + _)
          i += 1
        }
        var nfg = 0L; var mxs = 0L; var lsum = 0L; var schk = 0L
        val it = sizes.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          nfg += e.getValue
          if (e.getValue > mxs) mxs = e.getValue
          lsum += e.getKey.toLong
          schk += e.getValue * e.getKey.toLong
        }
        (sizes.size.toLong, nfg, mxs, lsum, schk)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("c", bl(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("c._1").as("n_comp"),
          col("c._2").as("n_fg"), col("c._3").as("max_size"),
          col("c._4").as("labelsum"), col("c._5").as("sizechk"))
        .orderBy("image_id")
    },
      Some(s"""WITH RECURSIVE $I, $B, $SimgCte,
         |bloffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |blm0 AS (
         |  $StripeMaskSelect),
         |blf(k, x, y, lab, it) AS (
         |  SELECT k, x, y, y*w + x, 0 FROM blm0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.lab, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MIN(t.lab) AS lab, MAX(t.it) AS it
         |    FROM blf t CROSS JOIN bloffs o
         |    GROUP BY 1, 2, 3
         |  ) c JOIN blm0 m ON m.k = c.k AND m.x = c.x AND m.y = c.y
         |  WHERE c.it < 144),
         |blfin AS (SELECT k, lab, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM blf WHERE it = 144 GROUP BY k, lab),
         |blagg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_comp,
         |    CAST(SUM(sz) AS BIGINT) AS n_fg,
         |    CAST(MAX(sz) AS BIGINT) AS max_size,
         |    CAST(SUM(lab) AS BIGINT) AS labelsum,
         |    CAST(SUM(sz * lab) AS BIGINT) AS sizechk
         |  FROM blfin GROUP BY k)
         |SELECT s.image_id,
         |  COALESCE(a.n_comp, 0) AS n_comp,
         |  COALESCE(a.n_fg, 0) AS n_fg,
         |  COALESCE(a.max_size, 0) AS max_size,
         |  COALESCE(a.labelsum, 0) AS labelsum,
         |  COALESCE(a.sizechk, 0) AS sizechk
         |FROM simg s LEFT JOIN blagg a ON a.k = s.k
         |ORDER BY s.image_id""".stripMargin)),

    // histogram EQUALIZATION (nonlinear stretch next to autoscale):
    // classic discrete formula over band 2, L=256, exact integers
    Gate("q_equalize", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("e", Algorithms.equalizeAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(2)))
        .select(col("image_id"), col("e._1").as("n_valid"),
          col("e._2").as("eqsum"), col("e._3").as("eqmin"),
          col("e._4").as("eqmax"), col("e._5").as("eqchk"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |eqp AS (SELECT k, x, y, v FROM px WHERE b = 2),
         |eqc AS (SELECT k, x, y, v,
         |    COUNT(*) OVER (PARTITION BY k ORDER BY v
         |                   RANGE UNBOUNDED PRECEDING) AS cdf,
         |    COUNT(*) OVER (PARTITION BY k) AS n,
         |    MIN(v) OVER (PARTITION BY k) AS vmin
         |  FROM eqp),
         |eq2 AS (SELECT k, x, y,
         |    CASE WHEN n = cmin THEN 0
         |         ELSE (CAST(cdf - cmin AS BIGINT) * 255) // (n - cmin)
         |    END AS vp
         |  FROM (SELECT *, SUM(CASE WHEN v = vmin THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY k) AS cmin
         |        FROM eqc))
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(vp) AS BIGINT) AS eqsum,
         |  CAST(MIN(vp) AS BIGINT) AS eqmin,
         |  CAST(MAX(vp) AS BIGINT) AS eqmax,
         |  CAST(SUM(CAST(vp AS BIGINT) * (x + 131*y)) AS BIGINT) AS eqchk
         |FROM eq2 JOIN simg s ON s.k = eq2.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BIT-REPRODUCIBLE k-means (exact-integer variant): quantized
    // coordinates, truncated integer centroids — every cross-row
    // reduction is an integer sum, so the result is identical across
    // partitionings and engines, and the DuckDB oracle replays all
    // three Lloyd rounds exactly (unlike float kmeans above)
    Gate("q_kmeans_exact", (s, dir) =>
      Algorithms.kmeansEmbeddingsExact(s, Synth.embeddings(s, dir), 4, 3)
        .orderBy("vec_id"),
      // exact-integer k-means ground truth: all three Lloyd rounds
      // unrolled in SQL — quantize, exact integer distances (ties →
      // lowest cid), truncated integer centroid means (`//` truncates
      // toward zero in DuckDB, mirrored by Scala Long division),
      // empty-cluster carry-forward via COALESCE
      Some {
      val K = 4; val Iters = 3; val Dim = 64
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        s"""q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
           |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe
           |  FROM embeddings)""".stripMargin,
        s"dims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"c1 AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id < $K)")
      ctes ++= OracleCte.lloydRounds("", Iters)
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster" +
        s"\nFROM a$Iters ORDER BY vec_id"
    }),

    // decision-stump training (exact-Gini split search on n_chars//64
    // predicting lang='en'): per-threshold split counts + weighted-
    // Gini cost as one scaled integer; the window runs over the
    // threshold HISTOGRAM, never the corpus
    Gate("q_stump", (s, dir) =>
      graft.text.TextOps.giniStump(Synth.documents(s, dir), col("n_chars"),
        col("lang") === "en", 64L),
      // stump replay: threshold histogram, cumulative split counts,
      // exact weighted-Gini cost via integer cross-multiplication
      Some(s"""WITH sth AS (SELECT n_chars // 64 AS t,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |      FROM documents),
         |sthh AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
         |           CAST(SUM(y) AS BIGINT) AS p FROM sth GROUP BY 1),
         |stc AS (SELECT t, CAST(SUM(n) OVER (ORDER BY t) AS BIGINT) AS nl,
         |          CAST(SUM(p) OVER (ORDER BY t) AS BIGINT) AS pl
         |        FROM sthh),
         |stt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
         |          CAST(SUM(p) AS BIGINT) AS pt FROM sthh)
         |SELECT c.t, c.nl, c.pl, q.nt - c.nl AS nr, q.pt - c.pl AS pr,
         |  CAST(((c.pl*(c.nl-c.pl)*(q.nt-c.nl)
         |    + (q.pt-c.pl)*((q.nt-c.nl)-(q.pt-c.pl))*c.nl) * 1000000)
         |    // (c.nl * (q.nt - c.nl)) AS BIGINT) AS cost_scaled
         |FROM stc c, stt q WHERE c.nl < q.nt ORDER BY c.t""".stripMargin)),

    // robust per-type outlier census: exact integer median/MAD over
    // the ⌊100·value⌋ histogram (order statistics over the VALUE
    // DOMAIN, never a per-group row sort), rule |x−med| > 3·MAD in
    // doubled/quadrupled integers
    Gate("q_mad_outliers", (s, dir) => {
      val ev = Synth.events(s, dir)
      graft.ops.Relational.madOutliers(
          ev.select(col("event_type"),
            floor(col("value") * 100).cast("long").as("vc")))
        .orderBy("event_type")
    },
      // median/MAD replay: cumulative order statistics over the
      // (type, value) histogram — doubled median = val(lo)+val(hi) at
      // 0-based ranks (n−1)//2 and n//2, repeated over the deviation
      // histogram for mad4; outlier rule 2·dev2 > 3·mad4
      Some("""WITH mh AS (SELECT event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |mc1 AS (SELECT event_type, vc, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY vc) AS upto,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM mh),
        |mlo AS (SELECT event_type, vc AS vlo, n FROM mc1
        |  WHERE upto > (n - 1) // 2 AND upto - c <= (n - 1) // 2),
        |mhi AS (SELECT event_type, vc AS vhi FROM mc1
        |  WHERE upto > n // 2 AND upto - c <= n // 2),
        |mmd AS (SELECT l.event_type, l.n, l.vlo + h.vhi AS med2
        |  FROM mlo l JOIN mhi h USING (event_type)),
        |mdv AS (SELECT mh.event_type, ABS(2 * mh.vc - m.med2) AS dv,
        |    CAST(SUM(mh.c) AS BIGINT) AS c
        |  FROM mh JOIN mmd m USING (event_type) GROUP BY 1, 2),
        |mc2 AS (SELECT event_type, dv, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY dv) AS upto,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM mdv),
        |dlo AS (SELECT event_type, dv AS dvlo FROM mc2
        |  WHERE upto > (n - 1) // 2 AND upto - c <= (n - 1) // 2),
        |dhi AS (SELECT event_type, dv AS dvhi FROM mc2
        |  WHERE upto > n // 2 AND upto - c <= n // 2),
        |mmad AS (SELECT l.event_type, l.dvlo + h.dvhi AS mad4
        |  FROM dlo l JOIN dhi h USING (event_type)),
        |mout AS (SELECT d.event_type, CAST(SUM(d.c) AS BIGINT) AS nout
        |  FROM mdv d JOIN mmad a USING (event_type)
        |  WHERE 2 * d.dv > 3 * a.mad4 GROUP BY 1)
        |SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
        |  CAST(m.med2 AS BIGINT) AS med2, CAST(a.mad4 AS BIGINT) AS mad4,
        |  CAST(COALESCE(o.nout, 0) AS BIGINT) AS n_outliers
        |FROM mmd m JOIN mmad a USING (event_type)
        |LEFT JOIN mout o USING (event_type)
        |ORDER BY 1""".stripMargin)),

    // ---- detection-box post-processing (Boxes.scala) ----
    // greedy IoU>1/2 non-maximum suppression over 12 md5-derived
    // candidate boxes per image: per-image O(n²) kernel, one hash
    // shuffle on image_id. Oracle replays the greedy scan as a
    // suppression-bitmask recursive CTE.
    Gate("q_nms", (s, dir) =>
      graft.ops.Boxes.nms(synthBoxes(s, dir, 12, ""), "image_id")
        .orderBy("image_id", "box_id"),
      // greedy NMS ground truth: ranks in (score DESC, box_id) order,
      // per-rank suppression bitmasks from the exact cross-multiplied
      // IoU>1/2 test, then the greedy scan replayed as a 12-step
      // recursive walk carrying (kept-mask, suppressed-mask)
      Some(nmsOracleSql)),

    // greedy detection matching (COCO-style single-threshold TP/FP/FN):
    // 12 scored predictions vs 6 ground-truth boxes per image; each
    // prediction in score order claims the unclaimed gt with the
    // highest quantized IoU (> 0.5). Same per-image-kernel shape.
    Gate("q_box_match", (s, dir) => {
      val ps = synthBoxes(s, dir, 12, "").groupBy("image_id")
        .agg(collect_list(struct(col("box_id"), col("x1"), col("y1"),
          col("x2"), col("y2"), col("score"))).as("ps"))
      val gs = synthBoxes(s, dir, 6, "g").groupBy("image_id")
        .agg(collect_list(struct(col("box_id"), col("x1"), col("y1"),
          col("x2"), col("y2"))).as("gs"))
      ps.join(gs, Seq("image_id"))
        .withColumn("m", graft.ops.Boxes.matchAgg(col("ps"), col("gs"),
          lit(524288L)))
        .select(col("image_id"), col("m._1").as("n_pred"),
          col("m._2").as("tp"), col("m._3").as("fp"),
          col("m._4").as("fn"), col("m._5").as("qiou_sum"))
        .orderBy("image_id")
    },
      // greedy matching ground truth: per-step argmax over unclaimed
      // gts via lexicographic struct MAX on (qIoU, -grk), claimed-gt
      // bitmask carried through the 12-step recursive walk
      Some(boxMatchOracleSql)),

    // two-level integer Haar (S-transform) subband energies: oriented
    // H/V/D detail split per level — the frequency-domain texture
    // counterpart of q_lap_pyramid's isotropic residual
    Gate("q_haar", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("hr", graft.ops.Vision.haarAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("hr._1").as("n_ll2"),
          col("hr._2").as("h1_abs"), col("hr._3").as("v1_abs"),
          col("hr._4").as("d1_abs"), col("hr._5").as("h2_abs"),
          col("hr._6").as("v2_abs"), col("hr._7").as("d2_abs"),
          col("hr._8").as("ll2_sum"))
        .orderBy("image_id"),
      // Haar ground truth: 2×2 parity pivot per level — a/b/c/d via
      // CASE on (x%2, y%2), LL = floor-mean, oriented detail sums
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |ha1 AS (SELECT k, x//2 AS u, y//2 AS v,
         |          SUM(CASE WHEN x%2=0 AND y%2=0 THEN z END) AS a,
         |          SUM(CASE WHEN x%2=1 AND y%2=0 THEN z END) AS b,
         |          SUM(CASE WHEN x%2=0 AND y%2=1 THEN z END) AS c,
         |          SUM(CASE WHEN x%2=1 AND y%2=1 THEN z END) AS d
         |        FROM demp WHERE x < 2*(w//2) AND y < 2*(h//2)
         |        GROUP BY 1, 2, 3),
         |hb1 AS (SELECT k, u, v, (a+b+c+d)//4 AS ll,
         |          ABS((a+c)-(b+d)) AS ph, ABS((a+b)-(c+d)) AS pv,
         |          ABS(a-b-c+d) AS pd
         |        FROM ha1),
         |hl1 AS (SELECT k, CAST(SUM(ph) AS BIGINT) AS h1_abs,
         |          CAST(SUM(pv) AS BIGINT) AS v1_abs,
         |          CAST(SUM(pd) AS BIGINT) AS d1_abs
         |        FROM hb1 GROUP BY 1),
         |ha2 AS (SELECT t.k, t.u//2 AS p2, t.v//2 AS q2,
         |          SUM(CASE WHEN t.u%2=0 AND t.v%2=0 THEN t.ll END) AS a,
         |          SUM(CASE WHEN t.u%2=1 AND t.v%2=0 THEN t.ll END) AS b,
         |          SUM(CASE WHEN t.u%2=0 AND t.v%2=1 THEN t.ll END) AS c,
         |          SUM(CASE WHEN t.u%2=1 AND t.v%2=1 THEN t.ll END) AS d
         |        FROM hb1 t JOIN simg s ON s.k = t.k
         |        WHERE t.u < 2*((s.w//2)//2) AND t.v < 2*((s.h//2)//2)
         |        GROUP BY 1, 2, 3),
         |hb2 AS (SELECT k, (a+b+c+d)//4 AS ll,
         |          ABS((a+c)-(b+d)) AS ph, ABS((a+b)-(c+d)) AS pv,
         |          ABS(a-b-c+d) AS pd
         |        FROM ha2),
         |hl2 AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_ll2,
         |          CAST(SUM(ph) AS BIGINT) AS h2_abs,
         |          CAST(SUM(pv) AS BIGINT) AS v2_abs,
         |          CAST(SUM(pd) AS BIGINT) AS d2_abs,
         |          CAST(SUM(ll) AS BIGINT) AS ll2_sum
         |        FROM hb2 GROUP BY 1)
         |SELECT s.image_id, l2.n_ll2, l1.h1_abs, l1.v1_abs, l1.d1_abs,
         |  l2.h2_abs, l2.v2_abs, l2.d2_abs, l2.ll2_sum
         |FROM hl1 l1 JOIN hl2 l2 ON l2.k = l1.k
         |JOIN simg s ON s.k = l1.k
         |ORDER BY s.image_id""".stripMargin)),

    // edge-preserving ε-filter (hard-range bilateral, t=200): floor-
    // mean of the 3×3 neighbors within t of the center, exact integers
    Gate("q_epsilon_filter", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("ef", graft.ops.Vision.epsilonFilterAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(200L)))
        .select(col("image_id"), col("ef._1").as("n_px"),
          col("ef._2").as("out_sum"), col("ef._3").as("changed"),
          col("ef._4").as("max_dev"))
        .orderBy("image_id"),
      // ε-filter ground truth: 9-offset self-join with the |Δz| ≤ t
      // range gate; center always joins itself so COUNT ≥ 1
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |eo(dx, dy) AS (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(0,0),
         |  (1,0),(-1,1),(0,1),(1,1)),
         |ef AS (SELECT c.k, c.x, c.y, c.z,
         |         SUM(n.z) AS s, COUNT(*) AS cnt
         |       FROM demp c JOIN eo o ON TRUE
         |       JOIN demp n ON n.k = c.k AND n.x = c.x + o.dx
         |         AND n.y = c.y + o.dy
         |       WHERE ABS(n.z - c.z) <= 200
         |       GROUP BY 1, 2, 3, 4),
         |ego AS (SELECT k, x, y, z, s//cnt AS o FROM ef)
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(o) AS BIGINT) AS out_sum,
         |  CAST(SUM(CASE WHEN o <> z THEN 1 ELSE 0 END) AS BIGINT)
         |    AS changed,
         |  CAST(MAX(ABS(o - z)) AS BIGINT) AS max_dev
         |FROM ego g JOIN simg s ON s.k = g.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // blur/focus curation gate: variance of the discrete Laplacian
    // (Pech-Pacheco ICPR 2000) as the exact scaled form n·ΣL²−(ΣL)²,
    // sharp iff score > τ·n² — the standard sharpness filter of an
    // image-curation pipeline, one decode per image
    Gate("q_blur_filter", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("bf", graft.ops.Vision.blurScoreAgg(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"),
          lit(1600000L)))
        .select(col("image_id"), col("bf._1").as("n_int"),
          col("bf._2").as("lap_sum"), col("bf._3").as("lap_sq_sum"),
          col("bf._4").as("score"), col("bf._5").as("sharp"))
        .orderBy("image_id"),
      // blur-filter ground truth: Laplacian via four demp self-joins
      // on the neighbor coordinates, exact scaled variance
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |blap AS (SELECT c.k, c.image_id,
         |    4*c.z - l.z - r.z - u.z - d.z AS lv
         |  FROM demp c
         |  JOIN demp l ON l.k = c.k AND l.x = c.x-1 AND l.y = c.y
         |  JOIN demp r ON r.k = c.k AND r.x = c.x+1 AND r.y = c.y
         |  JOIN demp u ON u.k = c.k AND u.x = c.x AND u.y = c.y-1
         |  JOIN demp d ON d.k = c.k AND d.x = c.x AND d.y = c.y+1
         |  WHERE c.x BETWEEN 1 AND c.w-2 AND c.y BETWEEN 1 AND c.h-2),
         |bag AS (SELECT k, image_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_int,
         |    CAST(SUM(lv) AS BIGINT) AS lap_sum,
         |    CAST(SUM(lv*lv) AS BIGINT) AS lap_sq_sum
         |  FROM blap GROUP BY 1, 2)
         |SELECT image_id, n_int, lap_sum, lap_sq_sum,
         |  CAST(n_int*lap_sq_sum - lap_sum*lap_sum AS BIGINT) AS score,
         |  CAST(CASE WHEN n_int*lap_sq_sum - lap_sum*lap_sum
         |       > 1600000*n_int*n_int THEN 1 ELSE 0 END AS BIGINT) AS sharp
         |FROM bag ORDER BY image_id""".stripMargin))
  )
}
