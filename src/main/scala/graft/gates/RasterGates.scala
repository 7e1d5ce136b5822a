package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Pixels
import graft.gen.Synth
import graft.gen.OracleCte.{ClassifyCtes, DemEpochPairCte, SimgCte,
  StripeMaskSelect, TrendValue, bandParams => B, images => I,
  pixelGen => PxCte, polygons => P}
import graft.ops.{Algorithms, Bands, Indices, Mosaic, Stats, Warp}

/** The raster gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object RasterGates {

  /** Histogram-interpolated percentiles of `mv` per k over `src`
    * (the q_fmask and thermal-FMASK mirror of the engine's 100-bin
    * percentile): CTEs `${name}mm` … `${name}sel`(k, pct, res). */
  private def pctCte(name: String, src: String, pcts: Seq[Double]): String = {
    val pl = pcts.mkString(", ")
    s"""${name}mm AS (SELECT k, COUNT(mv) AS cnt, MIN(mv) AS mn,
       |    MAX(mv) AS mx FROM $src GROUP BY k),
       |${name}hb AS (SELECT s.k,
       |    LEAST(99, CAST(FLOOR((s.mv - m.mn)/((m.mx - m.mn)/100.0))
       |      AS BIGINT)) AS bin,
       |    COUNT(*) AS cnt
       |  FROM $src s JOIN ${name}mm m ON m.k = s.k
       |  WHERE s.mv IS NOT NULL AND m.mx <> m.mn GROUP BY 1, 2),
       |${name}cu AS (SELECT k, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum
       |  FROM ${name}hb),
       |${name}tg AS (SELECT m.k, p.pct, p.pct/100.0*m.cnt AS target,
       |    m.mn, m.mx, m.cnt AS n
       |  FROM ${name}mm m, (SELECT unnest([$pl]) AS pct) p),
       |${name}sel AS (SELECT t.k, t.pct,
       |    CASE WHEN t.n = 0 THEN NULL
       |         WHEN t.mx = t.mn THEN t.mn
       |         ELSE t.mn + (t.mx - t.mn)/100.0 *
       |              (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
       |    END AS res
       |  FROM ${name}tg t LEFT JOIN ${name}cu c ON c.k = t.k
       |    AND c.cum >= t.target AND c.cum - c.cnt < t.target)""".stripMargin
  }


  /** The dense multi-hit mosaic fixture: the small images re-anchored
    * onto one window (x0m = (k % 4)·60 − 100, y0m = (3k % 4)·60 − 100)
    * and merged into the single 95×95 grid gid 0 with `mergeMode`. */
  private def denseMosaic(s: SparkSession, dir: String,
                          mergeMode: Int): DataFrame = {
    import s.implicits._
    val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      .withColumn("x0m", (col("k") % 4) * 60 - 100)
      .withColumn("y0m", ((col("k") * 3) % 4) * 60 - 100)
      .withColumn("x1m", col("x0m") + col("w") * 4)
      .withColumn("y1m", col("y0m") + col("h") * 4)
    val grids = Seq((0L, -120L, -120L, 260L, 260L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    Warp.warpInto(im, grids, mergeMode = mergeMode)
  }

  /** One mosaic grid per small image: its footprint padded by 512 mdeg
    * on every side, so neighbouring images merge in. */
  private def paddedGrids(s: SparkSession, dir: String): DataFrame =
    Synth.smallRaw(Synth.images(s, dir))
      .select(col("image_id").as("gid"),
        (col("x0m") - 512).as("gx0"), (col("y0m") - 512).as("gy0"),
        (col("x1m") + 512).as("gx1"), (col("y1m") + 512).as("gy1"))

  /** The dense multi-hit mosaic fixture in SQL (mirror of
    * [[denseMosaic]]): hit(gid, gx, gy, k, xi, yi), one row per
    * destination pixel and valid covering source pixel. */
  private val DenseHitCte =
    """simg0 AS (SELECT * FROM img2
      |          WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
      |simg AS (SELECT k, image_id, w, h, nw,
      |           (k % 4)*60 - 100 AS x0m, ((k*3) % 4)*60 - 100 AS y0m,
      |           (k % 4)*60 - 100 + w*4 AS x1m,
      |           ((k*3) % 4)*60 - 100 + h*4 AS y1m
      |         FROM simg0),
      |pxc AS (
      |  SELECT CAST(0 AS BIGINT) AS gid,
      |         -120 + xs.i*4 + 2 AS gx, 260 - ys.j*4 - 2 AS gy
      |  FROM (SELECT unnest(generate_series(0, 94)) AS i) xs
      |  CROSS JOIN (SELECT unnest(generate_series(0, 94)) AS j) ys),
      |hit AS (
      |  SELECT p.gid, p.gx, p.gy, i.k,
      |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
      |  FROM pxc p JOIN simg i
      |    ON p.gx >= i.x0m AND p.gy <= i.y1m
      |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
      |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1)""".stripMargin

  /** The ±512-padded footprint grids of the mosaic gates in SQL
    * (mirror of [[paddedGrids]]): simg, gdim(gid, gx0, gy0, gx1, gy1,
    * out_w, out_h) and the covered destination pixel centers
    * pxc(gid, gx, gy). */
  private val PaddedGridCte =
    """simg AS (SELECT * FROM img2
      |         WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
      |g AS (SELECT image_id AS gid, x0m - 512 AS gx0, y0m - 512 AS gy0,
      |        x1m + 512 AS gx1, y1m + 512 AS gy1 FROM simg),
      |gdim AS (SELECT *, (gx1-gx0+3)//4 AS out_w, (gy1-gy0+3)//4 AS out_h
      |         FROM g),
      |cover AS (SELECT DISTINCT gid FROM gdim d JOIN simg i
      |  ON i.x0m < d.gx0 + d.out_w*4 AND d.gx0 < i.x1m
      | AND i.y0m < d.gy1 AND d.gy1 - d.out_h*4 < i.y1m),
      |pxc AS (
      |  SELECT d.gid, d.gx0 + xs.i*4 + 2 AS gx, d.gy1 - ys.j*4 - 2 AS gy
      |  FROM gdim d
      |  JOIN cover c ON c.gid = d.gid
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(d.out_w-1 AS INT))) AS i) xs
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(d.out_h-1 AS INT))) AS j) ys)""".stripMargin

  /** THERMAL FMASK ground truth (multi-pass SQL replay; see the
    * q_fmask_thermal registry comment). `tempB` as in
    * [[accaThermalOracle]]: 5 = swir2 proxy, 6 = independent LWIR. */
  private def fmaskThermalOracle(tempB: Int): String = {
    val gbl = if (tempB == 6) "0,1,2,3,4,5,6" else "0,1,2,3,4,5"
      s"""WITH $I, $SimgCte,
         |gb AS (SELECT unnest([$gbl]) AS b),
         |gbp AS (SELECT s.k, CAST(t.b AS BIGINT) AS b,
         |         200 + (s.k*(t.b+3)) % 800 AS base,
         |         (s.k + 11*t.b) % 8 AS ax, (s.k + 17*t.b) % 8 AS ay
         |       FROM simg s CROSS JOIN gb t),
         |gpx AS (SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s JOIN gbp p ON p.k = s.k
         |  $ValidPixelGrid),
         |gsp AS (SELECT k, x, y,
         |    CAST(MAX(CASE WHEN b=0 THEN v END) AS DOUBLE)/4000.0 AS bb,
         |    CAST(MAX(CASE WHEN b=1 THEN v END) AS DOUBLE)/4000.0 AS gg,
         |    CAST(MAX(CASE WHEN b=2 THEN v END) AS DOUBLE)/4000.0 AS rr,
         |    CAST(MAX(CASE WHEN b=3 THEN v END) AS DOUBLE)/4000.0 AS nn,
         |    CAST(MAX(CASE WHEN b=4 THEN v END) AS DOUBLE)/4000.0 AS s1,
         |    CAST(MAX(CASE WHEN b=5 THEN v END) AS DOUBLE)/4000.0 AS s2,
         |    CAST(MAX(CASE WHEN b=$tempB THEN v END) AS DOUBLE)/40.0 - 10.0 AS bt
         |  FROM gpx GROUP BY 1, 2, 3),
         |gfeat AS (SELECT k, x, y, bb, gg, rr, nn, s1, s2, bt,
         |    (abs(rr - (rr+gg+bb)/3) + abs(gg - (rr+gg+bb)/3)
         |     + abs(bb - (rr+gg+bb)/3)) / ((rr+gg+bb)/3) AS white,
         |    (nn - rr)/(nn + rr) AS ndvi, (gg - s1)/(gg + s1) AS ndsi
         |  FROM gsp),
         |gcls AS (SELECT k, x, y, s1, s2, bt, white, ndvi, ndsi,
         |    CASE WHEN s2 >= 0.03 AND NOT (bt > 27.0) AND NOT (ndvi > 0.8)
         |          AND NOT (ndsi > 0.8) AND bb - 0.5*rr >= 0.08
         |          AND NOT (white > 0.7) AND nn/s1 >= 0.75
         |         THEN 1 ELSE 0 END AS pcp,
         |    CASE WHEN (NOT (ndvi > 0.01) AND NOT (nn > 0.01))
         |           OR (NOT (ndvi > 0.1) AND NOT (nn > 0.05))
         |         THEN 1 ELSE 0 END AS water,
         |    1.0 - GREATEST(white, GREATEST(abs(ndsi), abs(ndvi))) AS vprob
         |  FROM gfeat),
         |gcls2 AS (SELECT *, CASE WHEN water=0 AND pcp=0 THEN 1 ELSE 0 END
         |  AS land FROM gcls),
         |gearly AS (SELECT k, (SUM(pcp) >= 0.999 * COUNT(*)) AS allcloud
         |  FROM gcls2 GROUP BY k),
         |gwmask AS (SELECT k,
         |    CASE WHEN s2 < 0.03 AND water=1 AND pcp=1 THEN bt END AS mv
         |  FROM gcls2),
         |${pctCte("gtw", "gwmask", Seq(82.5))},
         |glmask AS (SELECT k, CASE WHEN land=1 THEN bt END AS mv FROM gcls2),
         |${pctCte("gtl", "glmask", Seq(17.5, 82.5))},
         |gths AS (SELECT t.k,
         |    (SELECT res FROM gtwsel w WHERE w.k = t.k AND w.pct = 82.5)
         |      AS twater,
         |    MAX(CASE WHEN t.pct=17.5 THEN t.res END) AS tlo,
         |    MAX(CASE WHEN t.pct=82.5 THEN t.res END) AS thi
         |  FROM gtlsel t GROUP BY t.k),
         |gprob AS (SELECT c.k, c.x, c.y, c.pcp, c.water, c.land, c.bt,
         |    (h.twater - c.bt)/4.0 * (LEAST(c.s1, 0.11)/0.11) AS wprob,
         |    (h.thi + 4.0 - c.bt)/(h.thi + 4.0 - (h.tlo - 4.0)) * c.vprob
         |      AS lprob,
         |    h.tlo
         |  FROM gcls2 c JOIN gths h ON h.k = c.k),
         |gllm AS (SELECT p.k, CASE WHEN c.land=1 THEN p.lprob END AS mv
         |  FROM gprob p JOIN gcls2 c USING (k, x, y)),
         |${pctCte("glt", "gllm", Seq(82.5))},
         |glth AS (SELECT k, res + 0.2 + 0.0 AS lthresh
         |  FROM gltsel WHERE pct = 82.5),
         |gcl0 AS (SELECT p.k, p.x, p.y,
         |    CASE WHEN (p.pcp = 1 AND p.water = 1 AND p.wprob >= 0.5)
         |           OR (p.pcp = 1 AND p.water = 0 AND p.lprob >= l.lthresh)
         |           OR (p.lprob > 0.99 AND p.water = 0)
         |           OR (NOT (p.bt > p.tlo - 35.0))
         |         THEN 1 ELSE 0 END AS c0
         |  FROM gprob p JOIN glth l ON l.k = p.k),
         |goffs5 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-2,-1,0,1,2]) AS dx) a,
         |       (SELECT unnest([-2,-1,0,1,2]) AS dy) b),
         |ger AS (SELECT m0.k, m0.x, m0.y, MIN(mn.c0) AS e
         |  FROM gcl0 m0 JOIN goffs5 o ON true
         |  JOIN gcl0 mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |goffs3 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |       (SELECT unnest([-1,0,1]) AS dy) b),
         |gdl AS (SELECT m0.k, m0.x, m0.y, MAX(mn.e) AS d
         |  FROM ger m0 JOIN goffs3 o ON true
         |  JOIN ger mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |gfinal AS (SELECT c.k, c.x, c.y,
         |    CASE WHEN e.allcloud THEN c2.pcp ELSE d.d END AS cm,
         |    c2.pcp, c2.water, c2.land
         |  FROM gcl0 c JOIN gdl d USING (k, x, y)
         |  JOIN gcls2 c2 USING (k, x, y)
         |  JOIN gearly e ON e.k = c.k)
         |SELECT i.image_id,
         |  CAST(SUM(1 - f.cm) AS BIGINT) AS n_final,
         |  CAST(SUM(f.cm) AS BIGINT) AS n_cloud,
         |  CAST(SUM(f.pcp) AS BIGINT) AS n_pcp,
         |  CAST(SUM(f.water) AS BIGINT) AS n_water,
         |  CAST(SUM(f.land) AS BIGINT) AS n_land
         |FROM gfinal f JOIN img2 i ON i.k = f.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }

  /** THERMAL ACCA ground truth (full reference cascade replayed in
    * SQL; see the q_acca_thermal registry comment). `tempB` picks the
    * temperature source: 5 = the swir2-derived proxy plane, 6 = the
    * INDEPENDENT LWIR band file ([[graft.gen.Synth.lwirImages]]). */
  private def accaThermalOracle(tempB: Int): String = {
    val tbl = if (tempB == 6) "1,2,3,4,5,6" else "1,2,3,4,5"

      val offs = Algorithms.smearOffsets(45.0, 135.0, 450.0)
      val vals = offs.map { case (sx, sy) => s"($sx, $sy)" }.mkString(", ")
      s"""WITH $I, $SimgCte,
         |tb AS (SELECT unnest([$tbl]) AS b),
         |tbp AS (SELECT s.k, CAST(t.b AS BIGINT) AS b,
         |         200 + (s.k*(t.b+3)) % 800 AS base,
         |         (s.k + 11*t.b) % 8 AS ax, (s.k + 17*t.b) % 8 AS ay
         |       FROM simg s CROSS JOIN tb t),
         |tpx AS (SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s JOIN tbp p ON p.k = s.k
         |  $ValidPixelGrid),
         |sp AS (SELECT k, x, y,
         |    CAST(MAX(CASE WHEN b=2 THEN v END) AS DOUBLE)/4000.0 AS rr,
         |    CAST(MAX(CASE WHEN b=1 THEN v END) AS DOUBLE)/4000.0 AS gg,
         |    CAST(MAX(CASE WHEN b=3 THEN v END) AS DOUBLE)/4000.0 AS nn,
         |    CAST(MAX(CASE WHEN b=4 THEN v END) AS DOUBLE)/4000.0 AS s1,
         |    CAST(MAX(CASE WHEN b=$tempB THEN v END) AS DOUBLE)/40.0 - 10.0 AS t
         |  FROM tpx GROUP BY 1, 2, 3),
         |pa AS (SELECT k, x, y, t,
         |    CASE WHEN (NOT (rr >= 0.08)) OR (gg-s1)/(gg+s1) >= 0.7
         |           OR t >= 27.0 THEN 0
         |         WHEN (1.0-s1)*(t+273.15) >= 225.0 OR nn/rr >= 2.0
         |           OR nn/gg >= 2.0 OR NOT (nn/s1 >= 1.0) THEN 2
         |         ELSE 1
         |    END AS cls
         |  FROM sp),
         |scene AS (SELECT k, COUNT(*) AS scenesize,
         |    SUM(CASE WHEN cls=1 THEN 1 ELSE 0 END) AS cloudsum,
         |    list(t ORDER BY y, x) FILTER (WHERE cls=1) AS ctl
         |  FROM pa GROUP BY k),
         |cstat AS (SELECT k, scenesize, cloudsum,
         |    CAST(cloudsum AS DOUBLE)/scenesize AS cc,
         |    len(ctl) AS cn,
         |    list_reduce(ctl, (a,b) -> a+b) AS cs,
         |    list_reduce(list_transform(ctl, v -> v*v), (a,b) -> a+b) AS cs2,
         |    list_reduce(list_transform(ctl, v -> v*v*v), (a,b) -> a+b) AS cs3
         |  FROM scene),
         |cstat2 AS (SELECT *, cs/cn AS cmean,
         |    sqrt(GREATEST(0.0, cs2/cn - (cs/cn)*(cs/cn))) AS csd
         |  FROM cstat),
         |cstat3 AS (SELECT *,
         |    CASE WHEN csd = 0.0 THEN NULL
         |         ELSE (cs3/cn - 3*cmean*cs2/cn + 2*cmean*cmean*cmean)
         |              /(csd*csd*csd)
         |    END AS cskew,
         |    (cc > 0.004 AND cn > 0 AND cs/cn < 22.0) AS pass2
         |  FROM cstat2),
         |tmm AS (SELECT k, COUNT(*) AS cnt, MIN(t) AS mn, MAX(t) AS mx
         |  FROM pa GROUP BY k),
         |thb AS (SELECT p.k,
         |    LEAST(99, CAST(FLOOR((p.t - m.mn)/((m.mx - m.mn)/100.0))
         |      AS BIGINT)) AS bin,
         |    COUNT(*) AS cnt
         |  FROM pa p JOIN tmm m ON m.k = p.k
         |  WHERE m.mx <> m.mn GROUP BY 1, 2),
         |tcu AS (SELECT k, bin, cnt,
         |    SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum FROM thb),
         |tpcts AS (SELECT unnest([83.5, 97.5, 98.75]) AS pct),
         |ttgt AS (SELECT m.k, p.pct, p.pct/100.0*m.cnt AS target, m.mn, m.mx
         |  FROM tmm m, tpcts p),
         |tsel AS (SELECT t.k, t.pct,
         |    CASE WHEN t.mx = t.mn THEN t.mn
         |         ELSE t.mn + (t.mx - t.mn)/100.0 *
         |              (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
         |    END AS res
         |  FROM ttgt t LEFT JOIN tcu c ON c.k = t.k
         |    AND c.cum >= t.target AND c.cum - c.cnt < t.target),
         |tpv AS (SELECT k,
         |    MAX(CASE WHEN pct=83.5 THEN res END) AS p835,
         |    MAX(CASE WHEN pct=97.5 THEN res END) AS p975,
         |    MAX(CASE WHEN pct=98.75 THEN res END) AS p9875
         |  FROM tsel GROUP BY k),
         |ths AS (SELECT c.k, c.pass2,
         |    CASE WHEN c.cskew IS NOT NULL AND c.cskew > 0 THEN
         |      t.p835 + LEAST(t.p9875 - t.p975,
         |        c.csd * (CASE WHEN c.cskew > 1.0 THEN 1.0 ELSE c.cskew END))
         |    ELSE t.p835 END AS th0,
         |    CASE WHEN c.cskew IS NOT NULL AND c.cskew > 0 THEN
         |      t.p975 + LEAST(t.p9875 - t.p975,
         |        c.csd * (CASE WHEN c.cskew > 1.0 THEN 1.0 ELSE c.cskew END))
         |    ELSE t.p975 END AS th1,
         |    c.scenesize
         |  FROM cstat3 c JOIN tpv t ON t.k = c.k),
         |wsel AS (SELECT p.k,
         |    COUNT(*) FILTER (WHERE p.cls=2 AND p.t < h.th1 AND p.t > h.th0)
         |      AS wn,
         |    list(p.t ORDER BY p.y, p.x)
         |      FILTER (WHERE p.cls=2 AND p.t < h.th1 AND p.t > h.th0) AS wl,
         |    COUNT(*) FILTER (WHERE p.cls=2 AND p.t < h.th0) AS cn2,
         |    list(p.t ORDER BY p.y, p.x)
         |      FILTER (WHERE p.cls=2 AND p.t < h.th0) AS cl2
         |  FROM pa p JOIN ths h ON h.k = p.k GROUP BY p.k),
         |dec AS (SELECT h.k, h.pass2, h.th0, h.th1,
         |    (h.pass2 AND w.wn > 0
         |      AND CAST(w.wn AS DOUBLE)/h.scenesize < 0.4
         |      AND list_reduce(w.wl, (a,b) -> a+b)/w.wn < 22.0) AS warmAcc,
         |    w.wn, w.cn2,
         |    (w.cn2 > 0 AND CAST(w.cn2 AS DOUBLE)/h.scenesize < 0.4
         |      AND list_reduce(w.cl2, (a,b) -> a+b)/w.cn2 < 22.0) AS coldOk
         |  FROM ths h JOIN wsel w ON w.k = h.k),
         |dec2 AS (SELECT k, pass2, th0, th1, warmAcc,
         |    (pass2 AND NOT warmAcc AND coldOk) AS coldAcc FROM dec),
         |ambacc AS (SELECT p.k, p.x, p.y, p.cls, p.t,
         |    CASE WHEN d.warmAcc THEN
         |           CASE WHEN p.cls=2 AND p.t < d.th1 AND p.t > d.th0
         |                THEN 1 ELSE 0 END
         |         WHEN d.coldAcc THEN
         |           CASE WHEN p.cls=2 AND p.t < d.th0 THEN 1 ELSE 0 END
         |         ELSE CASE WHEN p.cls=2 THEN 1 ELSE 0 END
         |    END AS amb2,
         |    (d.warmAcc OR d.coldAcc) AS addclouds
         |  FROM pa p JOIN dec2 d ON d.k = p.k),
         |cl0 AS (SELECT k, x, y,
         |    CASE WHEN cls=1 OR (addclouds AND amb2=1) THEN 1 ELSE 0 END
         |      AS c0
         |  FROM ambacc),
         |aoffs3 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |       (SELECT unnest([-1,0,1]) AS dy) b),
         |agrown AS (SELECT m0.k, m0.x, m0.y, MAX(mn.c0) AS g
         |  FROM cl0 m0 JOIN aoffs3 o ON true
         |  JOIN cl0 mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |asmoffs AS (SELECT * FROM (VALUES $vals) AS t(sx, sy)),
         |afin AS (SELECT g0.k, g0.x, g0.y,
         |    GREATEST(g0.g, COALESCE(MAX(gs.g), 0)) AS f
         |  FROM agrown g0
         |  LEFT JOIN asmoffs s ON true
         |  LEFT JOIN agrown gs ON gs.k = g0.k
         |    AND gs.x = g0.x - s.sx AND gs.y = g0.y - s.sy
         |  GROUP BY 1, 2, 3, g0.g)
         |SELECT i.image_id,
         |  CAST(SUM(1 - f.f) AS BIGINT) AS n_final,
         |  CAST(SUM(f.f) AS BIGINT) AS n_cloud,
         |  CAST(SUM(a.amb2) AS BIGINT) AS n_amb,
         |  CAST(SUM(CASE WHEN a.cls=1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass1
         |FROM ambacc a JOIN afin f USING (k, x, y) JOIN img2 i ON i.k = a.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }

  /** Pivot the pixel rows into one row per (k,x,y) with all 6 band
    * values as DOUBLEs named (b,g,r,n,s1,s2). */
  private val PxdCte =
    """pxw AS (SELECT k, x, y,
      |  MAX(CASE WHEN b=0 THEN v END) AS vb0,
      |  MAX(CASE WHEN b=1 THEN v END) AS vb1,
      |  MAX(CASE WHEN b=2 THEN v END) AS vb2,
      |  MAX(CASE WHEN b=3 THEN v END) AS vb3,
      |  MAX(CASE WHEN b=4 THEN v END) AS vb4,
      |  MAX(CASE WHEN b=5 THEN v END) AS vb5
      |  FROM px GROUP BY k, x, y),
      |pxd AS (SELECT k, CAST(vb0 AS DOUBLE) AS b, CAST(vb1 AS DOUBLE) AS g,
      |  CAST(vb2 AS DOUBLE) AS r, CAST(vb3 AS DOUBLE) AS n,
      |  CAST(vb4 AS DOUBLE) AS s1, CAST(vb5 AS DOUBLE) AS s2 FROM pxw)""".stripMargin

  /** UNION-ALL oracle for all 15 spectral indices over the pixel grid. */
  private def indicesOracleSql: String = {
    val defs: Map[String, (String, Option[String])] = Map(
      "ndvi"   -> ("(n-r)/(n+r)", None),
      "evi"    -> ("2.5*(n-r)/(n+6*r-7.5*b+1)", Some("n+6*r-7.5*b+1 <> 0")),
      "lswi"   -> ("(n-s1)/(n+s1)", None),
      "ndsi"   -> ("(g-s1)/(g+s1)", None),
      "ndwi"   -> ("(g-n)/(g+n)", None),
      "bi"     -> ("0.5*(b+n)", None),
      "satvi"  -> ("1.5*(s1-r)/(s1+r+0.5) - 0.5*s2", None),
      "msavi2" -> ("(2*n+1 - sqrt((2*n+1)*(2*n+1) - 8*(n-r))) * 0.5", None),
      "vari"   -> ("(g-r)/(g+r-b)", Some("g+r-b <> 0")),
      "brgt"   -> ("0.3*b + 0.3*r + 0.1*n + 0.3*g", None),
      "ndti"   -> ("(s1-s2)/(s1+s2)", None),
      "crc"    -> ("(s1-b)/(s2+b)", None),
      "crcm"   -> ("(s1-g)/(s2+g)", None),
      "isti"   -> ("s2/s1", None),
      "sti"    -> ("s1/s2", None))
    val branches = Indices.All.map { prod =>
      val (e, cond) = defs(prod)
      s"SELECT k, '$prod' AS product, CAST(COUNT(*) AS BIGINT) AS n_valid, " +
        s"CAST(SUM(CAST(FLOOR(($e)*1e6) AS BIGINT)) AS BIGINT) AS fsum " +
        s"FROM pxd ${cond.map(c => s"WHERE $c ").getOrElse("")}GROUP BY k"
    }.mkString(" UNION ALL ")
    s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
       |u AS ($branches)
       |SELECT i.image_id, u.product, u.n_valid, u.fsum
       |FROM u JOIN img2 i ON i.k = u.k
       |ORDER BY image_id, product""".stripMargin
  }

  /** Lateral joins enumerating the valid pixels (xs.x, ys.y) of small
    * image `s`: every row, columns from the nodata stripe `nw` on. */
  private val ValidPixelGrid =
    """CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(s.w-1 AS INT))) AS x) xs
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(s.h-1 AS INT))) AS y) ys
      |  WHERE xs.x >= s.nw""".stripMargin

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    Gate("q_band_stats", (s, dir) =>
      Stats.bandStats(
          Synth.imagesWithBytes(s, dir,
            _.where(col("k") % 6 === 1 || col("k") % 6 === 2),
            spread = true),
          Synth.NumBands)
        .orderBy("image_id", "band"),
      Some(s"""WITH $I, $B,
         |stat AS (
         |  SELECT i.image_id, p.b, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |    ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |    ((i.w-1)*i.w*(2*i.w-1))//6 - ((i.nw-1)*i.nw*(2*i.nw-1))//6 AS sx2,
         |    (i.h*(i.h-1))//2 AS sy,
         |    ((i.h-1)*i.h*(2*i.h-1))//6 AS sy2
         |  FROM img2 i JOIN bandp p ON p.k = i.k
         |  WHERE i.k % 6 IN (1,2))
         |SELECT image_id, b AS band,
         |  (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy AS vsumsq
         |FROM stat ORDER BY image_id, band""".stripMargin)),

    // COMPRESSED-payload twin: the same stats kernel over real PNG
    // bytes (javax.imageio encode in Synth.encodeImage, decode in
    // Codec.decode) — png is lossless 8-bit gray, so the oracle can
    // restate the pixel law (1 + ramp % 255, stored band 0 only) and
    // the gate is value-exact THROUGH the compressed codec, closing
    // the "every oracle gate runs on raw-* fmts" evidence gap
    Gate("q_band_stats_png", (s, dir) =>
      Stats.bandStats(
          Synth.imagesWithBytes(s, dir,
            _.where(col("fmt") === "png" &&
                    col("w") <= 96 && col("h") <= 96)),
          Synth.NumBands)
        .orderBy("image_id", "band"),
      // png twin: 8-bit law v8 = 1 + ramp % 255 over VALID pixels of the
      // single stored band — per-pixel lateral replay (no closed form
      // for the mod), values exact through encode→PNG bytes→decode
      Some(s"""WITH $I, $B,
         |simgp AS (SELECT * FROM img2
         |  WHERE fmt = 'png' AND w <= 96 AND h <= 96),
         |pxp AS (
         |  SELECT s.image_id, 1 + (p.base + p.ax*xs.x + p.ay*ys.y) % 255 AS v8
         |  FROM simgp s
         |  JOIN bandp p ON p.k = s.k AND p.b = 0
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw)
         |SELECT image_id, CAST(0 AS BIGINT) AS band,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(v8) AS BIGINT) AS vsum,
         |  CAST(MIN(v8) AS BIGINT) AS vmin,
         |  CAST(MAX(v8) AS BIGINT) AS vmax,
         |  CAST(SUM(v8*v8) AS BIGINT) AS vsumsq
         |FROM pxp GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // corpus per-channel normalization constants (dataset mean/std
    // inputs): exact integer partials, nb-key map-side-combined reduce
    Gate("q_channel_norm", (s, dir) =>
      Stats.channelNorm(
          Synth.imagesWithBytes(s, dir,
            _.where(col("k") % 6 === 1 || col("k") % 6 === 2),
            spread = true),
          Synth.NumBands)
        .orderBy("band"),
      // same closed forms as q_band_stats, rolled up per band
      Some(s"""WITH $I, $B,
         |stat AS (
         |  SELECT i.image_id, p.b, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |    ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |    ((i.w-1)*i.w*(2*i.w-1))//6 - ((i.nw-1)*i.nw*(2*i.nw-1))//6
         |      AS sx2,
         |    (i.h*(i.h-1))//2 AS sy,
         |    ((i.h-1)*i.h*(2*i.h-1))//6 AS sy2
         |  FROM img2 i JOIN bandp p ON p.k = i.k
         |  WHERE i.k % 6 IN (1,2)),
         |pb AS (SELECT b AS band, (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy
         |    AS vsumsq
         |  FROM stat)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(cnt) AS BIGINT) AS cnt,
         |  CAST(SUM(vsum) AS BIGINT) AS vsum,
         |  CAST(SUM(vsumsq) AS BIGINT) AS vsumsq,
         |  CAST(MIN(vmin) AS BIGINT) AS vmin,
         |  CAST(MAX(vmax) AS BIGINT) AS vmax
         |FROM pb GROUP BY band ORDER BY band""".stripMargin)),

    // ---- warp / mosaic grid math ----
    // FULL DTYPE LATTICE: transcode each small exact-codec payload into
    // the four new raw dtypes (u16/u32/i32/f64 — completing the
    // reference's 7-type lattice) and re-derive band stats from the
    // transcoded bytes; values survive every dtype exactly (they fit
    // u16), so the oracle states one closed form for all four fmts
    Gate("q_dtype_stats", (s, dir) => {
      val fmts = Seq("raw-u16le", "raw-u32le", "raw-i32le", "raw-f64le")
      val tr = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String,
                    dst: String) =>
        graft.core.Codec.encode(
          graft.core.Codec.decode(bytes, w, h, Synth.NumBands, fmt),
          w, h, dst))
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("dfmt", explode(array(fmts.map(lit): _*)))
        .withColumn("bytes2", tr(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt"), col("dfmt")))
        .withColumn("bs", explode(Stats.bandStatsUdf(
          col("bytes2"), col("w").cast("int"), col("h").cast("int"),
          col("dfmt"), lit(Synth.NumBands))))
        .select(col("image_id"), col("dfmt"),
          col("bs._1").as("band"), col("bs._2").as("cnt"),
          col("bs._3").as("vsum"), col("bs._4").as("vmin"),
          col("bs._5").as("vmax"), col("bs._6").as("vsumsq"))
        .orderBy("image_id", "dfmt", "band")
    },
      // dtype-lattice transcode: the ramp values fit every new dtype
      // exactly, so the per-(image, band) closed forms are fmt-invariant
      // — one cross join over the 4 new raw fmts
      Some(s"""WITH $I, $B, $SimgCte,
         |dfmts AS (SELECT unnest(
         |  ['raw-f64le','raw-i32le','raw-u16le','raw-u32le']) AS dfmt),
         |stat AS (
         |  SELECT i.image_id, p.b, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |    ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |    ((i.w-1)*i.w*(2*i.w-1))//6 - ((i.nw-1)*i.nw*(2*i.nw-1))//6 AS sx2,
         |    (i.h*(i.h-1))//2 AS sy,
         |    ((i.h-1)*i.h*(2*i.h-1))//6 AS sy2
         |  FROM simg i JOIN bandp p ON p.k = i.k)
         |SELECT image_id, d.dfmt, b AS band,
         |  (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy AS vsumsq
         |FROM stat CROSS JOIN dfmts d
         |ORDER BY image_id, d.dfmt, band""".stripMargin)),

    Gate("q_warp_grid", (s, dir) => {
      val g = udf((x0: Long, y0: Long, x1: Long, y1: Long) => {
        val gr = Warp.outputGrid(
          graft.core.Geom.BBoxD(x0.toDouble, y0.toDouble, x1.toDouble, y1.toDouble),
          10.0, 10.0)
        (gr.w.toLong, gr.h.toLong)
      })
      Synth.images(s, dir)
        .withColumn("g", g(col("x0m"), col("y0m"), col("x1m"), col("y1m")))
        .select(col("image_id"), col("g._1").as("out_w"), col("g._2").as("out_h"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I
         |SELECT image_id, (w*4+9)//10 AS out_w, (h*4+9)//10 AS out_h
         |FROM img2 ORDER BY image_id""".stripMargin)),

    Gate("q_warp_grid_crop", (s, dir) => {
      val g = udf((x0: Long, y0: Long, x1: Long, y1: Long,
                   fx0: Long, fy0: Long, fx1: Long, fy1: Long) => {
        import graft.core.Geom.BBoxD
        val ext = Warp.cropAnchoredExtent(
          BBoxD(x0.toDouble, y0.toDouble, x1.toDouble, y1.toDouble),
          BBoxD(fx0.toDouble, fy0.toDouble, fx1.toDouble, fy1.toDouble),
          10.0, 10.0)
        val gr = Warp.outputGrid(ext, 10.0, 10.0)
        (ext.x0.toLong, ext.y1.toLong, gr.w.toLong, gr.h.toLong)
      })
      Synth.images(s, dir).withColumn("fid", col("k") % 25)
        .join(broadcast(Synth.polygons(s, dir)), Seq("fid"))
        .where(col("x0m") < col("px1m") && col("px0m") < col("x1m") &&
               col("y0m") < col("py1m") && col("py0m") < col("y1m"))
        .withColumn("g", g(col("x0m"), col("y0m"), col("x1m"), col("y1m"),
          col("px0m"), col("py0m"), col("px1m"), col("py1m")))
        .select(col("image_id"), col("fid"), col("g._1").as("x0a"),
          col("g._2").as("y1a"), col("g._3").as("cw"), col("g._4").as("ch"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $P,
         |j AS (SELECT i.image_id, p.fid, i.x0m, i.y0m, i.x1m, i.y1m,
         |        p.px0m, p.py0m, p.px1m, p.py1m,
         |        GREATEST(i.x0m, p.px0m) AS ix0, GREATEST(i.y0m, p.py0m) AS iy0,
         |        LEAST(i.x1m, p.px1m) AS ix1, LEAST(i.y1m, p.py1m) AS iy1
         |      FROM img2 i JOIN poly2 p ON p.fid = i.k % 25
         |       AND i.x0m < p.px1m AND p.px0m < i.x1m
         |       AND i.y0m < p.py1m AND p.py0m < i.y1m),
         |a AS (SELECT image_id, fid,
         |        px0m + ((ix0 - px0m)//10)*10 AS x0a,
         |        py1m - ((py1m - iy1)//10)*10 AS y1a, ix1, iy0
         |      FROM j)
         |SELECT image_id, fid, x0a, y1a,
         |       (ix1 - x0a + 9)//10 AS cw, (y1a - iy0 + 9)//10 AS ch
         |FROM a ORDER BY image_id""".stripMargin)),

    Gate("q_mosaic_extent", (s, dir) =>
      Mosaic.unionExtent(
          Synth.images(s, dir).withColumn("gid", col("k") % 50), 10L)
        .select(col("gid"), col("ux0"), col("uy0"), col("ux1"), col("uy1"),
          col("out_w"), col("out_h"))
        .orderBy("gid"),
      Some(s"""WITH $I
         |SELECT k % 50 AS gid, MIN(x0m) AS ux0, MIN(y0m) AS uy0,
         |       MAX(x1m) AS ux1, MAX(y1m) AS uy1,
         |       (MAX(x1m) - MIN(x0m) + 9)//10 AS out_w,
         |       (MAX(y1m) - MIN(y0m) + 9)//10 AS out_h
         |FROM img2 GROUP BY 1 ORDER BY gid""".stripMargin)),

    // ---- pixel math (small raw-codec class: w,h ≤ 64, i16/f32) ----
    Gate("q_indices_stats", (s, dir) =>
      Indices.indexStats(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
          Indices.All, Synth.NumBands)
        .orderBy("image_id", "product"),
      Some(indicesOracleSql)),

    Gate("q_histogram", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("hb", explode(Stats.histogramUdf(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(2), lit(16))))
        .select(col("image_id"), col("hb._1").as("bin"), col("hb._2").as("cnt"))
        .where(col("cnt") > 0)
        .orderBy("image_id", "bin"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |mm AS (SELECT s.k, s.image_id, p.base + p.ax*s.nw AS vmin,
         |         p.base + p.ax*(s.w-1) + p.ay*(s.h-1) AS vmax
         |       FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 2),
         |hb AS (SELECT px.k,
         |         CASE WHEN m.vmax = m.vmin THEN CAST(0 AS BIGINT)
         |              ELSE LEAST(15, CAST(FLOOR((CAST(px.v AS DOUBLE) - m.vmin) /
         |                   ((CAST(m.vmax AS DOUBLE) - m.vmin)/16.0)) AS BIGINT))
         |         END AS bin
         |       FROM px JOIN mm m ON px.k = m.k WHERE px.b = 2)
         |SELECT m2.image_id, hb.bin, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM hb JOIN mm m2 ON m2.k = hb.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // corpus-wide merged histogram over COMMON bins (the mergeable
    // path to distributed quantiles) — band 2, 16 bins
    Gate("q_corpus_hist", (s, dir) =>
      Stats.corpusHistogram(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
          Synth.NumBands, 2, 16)
        .orderBy("bin"),
      // corpus bounds = min/max of the per-image closed forms; same
      // FLOOR bin rule as q_histogram but into the shared bounds
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |mm AS (SELECT MIN(p.base + p.ax*s.nw) AS vmin,
         |         MAX(p.base + p.ax*(s.w-1) + p.ay*(s.h-1)) AS vmax
         |       FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 2),
         |hb AS (SELECT
         |         LEAST(15, CAST(FLOOR((CAST(px.v AS DOUBLE) - m.vmin) /
         |           ((CAST(m.vmax AS DOUBLE) - m.vmin)/16.0)) AS BIGINT))
         |           AS bin
         |       FROM px CROSS JOIN mm m WHERE px.b = 2)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM hb GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_percentile", (s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      def p(pct: Double) = floor(Stats.percentileUdf(col("bytes"),
        col("w").cast("int"), col("h").cast("int"), col("fmt"),
        lit(Synth.NumBands), lit(3), lit(pct)) * 1e6).cast("long")
      im.select(col("image_id"), p(25).as("fp25"), p(50).as("fp50"),
        p(75).as("fp75")).orderBy("image_id")
    },
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |mm AS (SELECT s.k, s.image_id, (s.w - s.nw)*s.h AS cnt,
         |         p.base + p.ax*s.nw AS vmin,
         |         p.base + p.ax*(s.w-1) + p.ay*(s.h-1) AS vmax
         |       FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 3),
         |hb AS (SELECT px.k,
         |         LEAST(99, CAST(FLOOR((CAST(px.v AS DOUBLE) - m.vmin) /
         |              ((CAST(m.vmax AS DOUBLE) - m.vmin)/100.0)) AS BIGINT)) AS bin,
         |         COUNT(*) AS cnt
         |       FROM px JOIN mm m ON px.k = m.k
         |       WHERE px.b = 3 AND m.vmax <> m.vmin GROUP BY 1, 2),
         |cu AS (SELECT k, bin, cnt,
         |         SUM(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum
         |       FROM hb),
         |pcts AS (SELECT unnest([25.0, 50.0, 75.0]) AS pct),
         |tgt AS (SELECT m.k, m.image_id, p.pct, p.pct/100.0*m.cnt AS target,
         |          CAST(m.vmin AS DOUBLE) AS vmin, CAST(m.vmax AS DOUBLE) AS vmax
         |        FROM mm m, pcts p),
         |sel AS (SELECT t.k, t.image_id, t.pct,
         |          CASE WHEN t.vmax = t.vmin THEN t.vmin
         |               ELSE t.vmin + (t.vmax - t.vmin)/100.0 *
         |                    (c.bin + (t.target - (c.cum - c.cnt))/c.cnt)
         |          END AS res
         |        FROM tgt t LEFT JOIN cu c ON c.k = t.k
         |          AND c.cum >= t.target AND c.cum - c.cnt < t.target)
         |SELECT image_id,
         |  MAX(CASE WHEN pct = 25.0 THEN CAST(FLOOR(res*1e6) AS BIGINT) END) AS fp25,
         |  MAX(CASE WHEN pct = 50.0 THEN CAST(FLOOR(res*1e6) AS BIGINT) END) AS fp50,
         |  MAX(CASE WHEN pct = 75.0 THEN CAST(FLOOR(res*1e6) AS BIGINT) END) AS fp75
         |FROM sel GROUP BY image_id ORDER BY image_id""".stripMargin)),

    Gate("q_spectral_stats", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("sp", Stats.spectralAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("sp._1").as("n_px"),
          col("sp._2").as("mean_fsum"), col("sp._3").as("sd_fsum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |sp AS (SELECT k, x, y, SUM(v) AS sv, SUM(v*v) AS s2, COUNT(*) AS c
         |       FROM px GROUP BY k, x, y),
         |m AS (SELECT k, CAST(sv AS DOUBLE)/c AS mean,
         |        sqrt(GREATEST(0.0, CAST(s2 AS DOUBLE)/c -
         |             (CAST(sv AS DOUBLE)/c)*(CAST(sv AS DOUBLE)/c))) AS sd
         |      FROM sp)
         |SELECT i.image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(CAST(FLOOR(mean*1e6) AS BIGINT)) AS BIGINT) AS mean_fsum,
         |  CAST(SUM(CAST(FLOOR(sd*1e6) AS BIGINT)) AS BIGINT) AS sd_fsum
         |FROM m JOIN img2 i ON i.k = m.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- warp resample (nearest, 2x upsample parity) ----
    // BILINEAR 2× upscale — dyadic-exact: at factor 2 every sample
    // lands on fx, fy ∈ {0.25, 0.75}, so 16·out is an exact integer
    // combination of four (replicate-clamped) source pixels and the
    // oracle re-derives Σ16·out with pure integer 1-D sums (validity
    // depends on x only: a dst pixel is NaN iff its LEFT sample column
    // is in the nodata stripe). Completes the kernel trio's oracles:
    // nearest (q_warp_nearest2x), cubic (q_pansharp), bilinear (here).
    Gate("q_warp_bilinear2x", (s, dir) => {
      val rs = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        val p = graft.core.Codec.decode(bytes, w, h,
          graft.core.Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        Pixels.validSum(Warp.resample(p, w, h, 0, h, 1.0, 1.0,
          Warp.Grid(0, 0, w, h, 2 * w, 2 * h, 0.5, 0.5), interp = 1), 16.0)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("r", rs(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("r._1").as("n_valid"),
          col("r._2").as("vsum16"))
        .orderBy("image_id")
    },
      // bilinear 2×: per dst column i (0..2w−1), left sample x1 =
      // i//2 − (1 − i%2), weights (wa, 4−wa) with wa = 1 for even i /
      // 3 for odd; replicate-clamp; valid iff the clamped LEFT column
      // ≥ nw. Separability: Σ16·out over the valid dst grid =
      // 16·base·nX·nY + 4·ax·ΣX·nY + 4·ay·ΣY·nX
      Some(s"""WITH $I, $B, $SimgCte,
         |xs AS (SELECT s.k, s.nw, ii.i,
         |    GREATEST(0, LEAST(s.w-1,
         |      ii.i//2 - (1 - ii.i % 2))) AS x1c,
         |    GREATEST(0, LEAST(s.w-1,
         |      ii.i//2 - (1 - ii.i % 2) + 1)) AS x2c,
         |    CASE WHEN ii.i % 2 = 0 THEN 1 ELSE 3 END AS wa
         |  FROM simg s CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, CAST(2*s.w-1 AS INT))) AS i) ii),
         |xagg AS (SELECT k,
         |    CAST(COUNT(CASE WHEN x1c >= nw THEN 1 END) AS BIGINT) AS nx,
         |    CAST(COALESCE(SUM(CASE WHEN x1c >= nw
         |      THEN wa*x1c + (4-wa)*x2c END), 0) AS BIGINT) AS sx
         |  FROM xs GROUP BY k),
         |ys AS (SELECT s.k, jj.j,
         |    GREATEST(0, LEAST(s.h-1,
         |      jj.j//2 - (1 - jj.j % 2))) AS y1c,
         |    GREATEST(0, LEAST(s.h-1,
         |      jj.j//2 - (1 - jj.j % 2) + 1)) AS y2c,
         |    CASE WHEN jj.j % 2 = 0 THEN 1 ELSE 3 END AS wa
         |  FROM simg s CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, CAST(2*s.h-1 AS INT))) AS j) jj),
         |yagg AS (SELECT k,
         |    CAST(COUNT(*) AS BIGINT) AS ny,
         |    CAST(SUM(wa*y1c + (4-wa)*y2c) AS BIGINT) AS sy
         |  FROM ys GROUP BY k)
         |SELECT s.image_id, x.nx * y.ny AS n_valid,
         |  16*p.base*x.nx*y.ny + 4*p.ax*x.sx*y.ny + 4*p.ay*y.sy*x.nx
         |    AS vsum16
         |FROM simg s
         |JOIN bandp p ON p.k = s.k AND p.b = 0
         |JOIN xagg x ON x.k = s.k
         |JOIN yagg y ON y.k = s.k
         |ORDER BY s.image_id""".stripMargin)),

    Gate("q_warp_nearest2x", (s, dir) => {
      val rs = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        val p = graft.core.Codec.decode(bytes, w, h,
          graft.core.Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val out = Warp.resample(p, w, h, 0, h, 1.0, 1.0,
          Warp.Grid(0, 0, w, h, 2 * w, 2 * h, 0.5, 0.5), interp = 0)
        Pixels.validSum(out)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("r", rs(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("r._1").as("n_valid"),
          col("r._2").as("vsum"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $B, $SimgCte,
         |stat AS (
         |  SELECT s.image_id, s.w, s.h, s.nw, p.base, p.ax, p.ay,
         |    ((s.w-1)*s.w)//2 - ((s.nw-1)*s.nw)//2 AS sx,
         |    (s.h*(s.h-1))//2 AS sy
         |  FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0)
         |SELECT image_id, 4*(w-nw)*h AS n_valid,
         |  4*(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw)) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin)),

    // OVERVIEW-AWARE downscale warp (GDAL's overview selection): a 3×
    // coarser output grid reads the level-2 pyramid plane — 1/4 of the
    // pixels — then nearest-resamples with the level-adjusted affine.
    // The two-step index map is pure integer arithmetic the oracle
    // replays digit-exactly.
    Gate("q_warp_overview", (s, dir) => {
      val rs = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        val p = graft.core.Codec.decode(bytes, w, h,
          graft.core.Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        val dw = (w + 2) / 3; val dh = (h + 2) / 3
        val out = Warp.resampleWithOverviews(p, w, h, 0, h, 1.0, 1.0,
          Warp.Grid(0, 0, w, h, dw, dh, 3.0, 3.0), interp = 0)
        Pixels.validSum(out)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("r", rs(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("r._1").as("n_valid"),
          col("r._2").as("vsum"))
        .orderBy("image_id")
    },
      // overview-aware warp: dst pixel (i,j) at res 3 reads level-2
      // overview cell (xi, yi) = ((6i+3)//4, (6j+3)//4) = base pixel
      // (2xi, 2yi); out of the ceil(w/2)×ceil(h/2) overview → nodata
      Some(s"""WITH $I, $B, $SimgCte,
         |wod AS (SELECT s.k, s.image_id, s.w, s.h, s.nw,
         |    (s.w+2)//3 AS dw, (s.h+2)//3 AS dh,
         |    (s.w+1)//2 AS ow, (s.h+1)//2 AS oh,
         |    p.base, p.ax, p.ay
         |  FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0),
         |wpx AS (SELECT o.image_id,
         |    CASE WHEN (6*xs.i+3)//4 < o.ow AND (6*ys.j+3)//4 < o.oh
         |          AND 2*((6*xs.i+3)//4) >= o.nw THEN 1 ELSE 0 END AS ok,
         |    o.base + o.ax*2*((6*xs.i+3)//4)
         |           + o.ay*2*((6*ys.j+3)//4) AS v
         |  FROM wod o
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(o.dw-1 AS INT))) AS i) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(o.dh-1 AS INT))) AS j) ys)
         |SELECT image_id, CAST(SUM(ok) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN ok=1 THEN v ELSE 0 END) AS BIGINT) AS vsum
         |FROM wpx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- band registry / masks / overviews ----
    Gate("q_band_select", (s, dir) =>
      Stats.bandStats(
          Bands.select(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
            Seq("nir", "red")), 2)
        .orderBy("image_id", "band"),
      Some(s"""WITH $I, $B, $SimgCte,
         |sel AS (SELECT 0 AS ob, 3 AS b UNION ALL SELECT 1 AS ob, 2 AS b),
         |stat AS (
         |  SELECT s.image_id, sel.ob, s.w, s.h, s.nw, p.base, p.ax, p.ay,
         |    ((s.w-1)*s.w)//2 - ((s.nw-1)*s.nw)//2 AS sx,
         |    ((s.w-1)*s.w*(2*s.w-1))//6 - ((s.nw-1)*s.nw*(2*s.nw-1))//6 AS sx2,
         |    (s.h*(s.h-1))//2 AS sy,
         |    ((s.h-1)*s.h*(2*s.h-1))//6 AS sy2
         |  FROM simg s CROSS JOIN sel JOIN bandp p ON p.k = s.k AND p.b = sel.b)
         |SELECT image_id, CAST(ob AS BIGINT) AS band,
         |  (w-nw)*h AS cnt,
         |  base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS vsum,
         |  base + ax*nw AS vmin,
         |  base + ax*(w-1) + ay*(h-1) AS vmax,
         |  base*base*(w-nw)*h + ax*ax*sx2*h + ay*ay*sy2*(w-nw)
         |    + 2*base*ax*sx*h + 2*base*ay*sy*(w-nw) + 2*ax*ay*sx*sy AS vsumsq
         |FROM stat ORDER BY image_id, band""".stripMargin)),

    Gate("q_mask_apply", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("ms", Bands.maskStatsAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(0), lit(500.0), lit(3)))
        .select(col("image_id"), col("ms._1").as("n_valid"),
          col("ms._2").as("vsum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |m AS (SELECT k, CAST(n AS BIGINT) AS nv FROM pxd WHERE b > 500)
         |SELECT i.image_id, CAST(COUNT(m.nv) AS BIGINT) AS n_valid,
         |  COALESCE(CAST(SUM(m.nv) AS BIGINT), 0) AS vsum
         |FROM simg i LEFT JOIN m ON m.k = i.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_overview_l2", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("ov", Bands.overviewAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("ov._1").as("n_valid"),
          col("ov._2").as("vsum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |ov AS (SELECT k, v FROM px
         |       WHERE b = 0 AND x % 2 = 0 AND y % 2 = 0)
         |SELECT i.image_id, CAST(COUNT(ov.v) AS BIGINT) AS n_valid,
         |  COALESCE(CAST(SUM(ov.v) AS BIGINT), 0) AS vsum
         |FROM simg i LEFT JOIN ov ON ov.k = i.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // full overview pyramid levels 2/4/8 (reference GeoImage.cpp:284-291)
    Gate("q_overview_pyramid", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("ov", explode(Bands.overviewPyramidAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("ov._1").as("level"),
          col("ov._2").as("n_valid"), col("ov._3").as("vsum"))
        .orderBy("image_id", "level"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |lv AS (SELECT unnest([2,4,8]) AS l),
         |ov AS (SELECT s.image_id, lv.l,
         |         COUNT(p.v) AS n_valid, COALESCE(SUM(p.v), 0) AS vsum
         |       FROM simg s CROSS JOIN lv
         |       LEFT JOIN px p ON p.k = s.k AND p.b = 0
         |         AND p.x % lv.l = 0 AND p.y % lv.l = 0
         |       GROUP BY 1, 2)
         |SELECT image_id, CAST(l AS BIGINT) AS level,
         |       CAST(n_valid AS BIGINT) AS n_valid,
         |       CAST(vsum AS BIGINT) AS vsum
         |FROM ov ORDER BY image_id, level""".stripMargin)),

    // ---- multi-band algorithms ----
    Gate("q_whiteness", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("wg", Algorithms.whitenessAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("wg._1").as("n_valid"),
          col("wg._2").as("fsum"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |wv AS (SELECT k,
         |  (abs(r - (r+g+b)/3) + abs(g - (r+g+b)/3) + abs(b - (r+g+b)/3)) /
         |    ((r+g+b)/3) AS wv
         |  FROM pxd)
         |SELECT i.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(CAST(FLOOR(wv*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |FROM wv JOIN img2 i ON i.k = wv.k GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_linear_transform", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("lt", explode(Algorithms.linearTransformAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("lt._1").as("ob"),
          col("lt._2").as("n_valid"), col("lt._3").as("fsum"))
        .orderBy("image_id", "ob"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |u AS (
         |  SELECT k, CAST(0 AS BIGINT) AS ob, COUNT(*) AS n_valid,
         |    CAST(SUM(CAST(FLOOR((0.1*b + 0.2*g + 0.3*r + 0.4*n + 0.5*s1
         |      + 0.6*s2)*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |  FROM pxd GROUP BY k
         |  UNION ALL
         |  SELECT k, CAST(1 AS BIGINT) AS ob, COUNT(*) AS n_valid,
         |    CAST(SUM(CAST(FLOOR((0.6*b + -0.5*g + 0.4*r + -0.3*n + 0.2*s1
         |      + -0.1*s2)*1e6) AS BIGINT)) AS BIGINT) AS fsum
         |  FROM pxd GROUP BY k)
         |SELECT i.image_id, u.ob, CAST(u.n_valid AS BIGINT) AS n_valid, u.fsum
         |FROM u JOIN img2 i ON i.k = u.k ORDER BY image_id, ob""".stripMargin)),

    Gate("q_extract_classes", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("ec", explode(Algorithms.extractClassesAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("ec._1").as("cls"),
          col("ec._2").as("n_px"), col("ec._3").as("red_sum"))
        .orderBy("image_id", "cls"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PxdCte,
         |cl AS (SELECT k, GREATEST(0, LEAST(3,
         |         CAST(FLOOR(((n-r)/(n+r))*4) AS BIGINT))) AS cls,
         |         CAST(r AS BIGINT) AS rv
         |       FROM pxd)
         |SELECT i.image_id, cl.cls, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(rv) AS BIGINT) AS red_sum
         |FROM cl JOIN img2 i ON i.k = cl.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // create_from: template geometry kept, new fmt/bands, blank payload
    Gate("q_create_from", (s, dir) => {
      val df = Bands.createFrom(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
        "raw-u8", 2, Seq("m1", "m2"))
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 2), fmt)(0)
        p.count(!_.isNaN).toLong
      })
      df.select(col("image_id"), col("fmt"), col("w"), col("h"),
          agg(col("bytes"), col("w").cast("int"), col("h").cast("int"),
            col("fmt")).as("n_valid"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $SimgCte
         |SELECT image_id, 'raw-u8' AS fmt, w, h, CAST(0 AS BIGINT) AS n_valid
         |FROM simg ORDER BY image_id""".stripMargin)),

    // multi-file open: two payload tables stacked into one 12-band cube
    // (join on image_id, prefixed names); band 7 = 2nd source's green
    Gate("q_stack_bands", (s, dir) => {
      val a = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      val b = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .select(col("image_id"), col("bytes"), col("fmt"))
      val df = Bands.stack(a, b, "lm", "hm")
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 12), fmt)(7)
        Pixels.validSum(p)
      })
      df.withColumn("a", agg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), size(col("bands")).cast("long").as("n_bands"),
          col("a._1").as("n_valid"), col("a._2").as("vsum"))
        .orderBy("image_id")
    },
      // band 7 of the stacked cube = source-2 green (b=1 closed forms)
      Some(s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 1
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id, CAST(12 AS BIGINT) AS n_bands,
         |  CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin)),

    // subdataset expansion (GeoImage.cpp:148-186): three single-band
    // subdatasets (blue/red/nir) per container re-assemble into one
    // 3-band frame; band 2 of the result must equal source band 3
    Gate("q_subdatasets", (s, dir) => {
      val mk = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String, b: Int) => {
        import graft.core.Codec
        val cube = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)
        Codec.encode(Array(cube(b)), w, h, fmt)
      })
      val subs = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"),
          explode(array(
            struct(lit(0L).as("sub_idx"), lit("sub_blue").as("name"),
              lit(0).as("b")),
            struct(lit(1L).as("sub_idx"), lit("sub_red").as("name"),
              lit(2).as("b")),
            struct(lit(2L).as("sub_idx"), lit("sub_nir").as("name"),
              lit(3).as("b")))).as("sd"))
        .select(col("image_id"), col("sd.sub_idx").as("sub_idx"),
          col("sd.name").as("name"),
          mk(col("bytes"), col("w").cast("int"), col("h").cast("int"),
            col("fmt"), col("sd.b")).as("bytes"),
          col("w"), col("h"), col("fmt"))
      val ex = Bands.expandSubdatasets(subs)
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, 3, fmt)(2)
        Pixels.validSum(p)
      })
      ex.withColumn("a", agg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), size(col("bands")).cast("long").as("n_bands"),
          col("a._1").as("n_valid"), col("a._2").as("vsum"))
        .orderBy("image_id")
    },
      // band 2 of the expanded frame = source band 3 (nir) closed forms
      Some(s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 3
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id, CAST(3 AS BIGINT) AS n_bands,
         |  CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY image_id""".stripMargin)),

    // colortable + set_color: ramp/interp entries in band metadata;
    // clear removes exactly the ramp (interp survives)
    Gate("q_colortable", (s, dir) => {
      val withCt = Bands.addColortable(
        Bands.setColor(Synth.images(s, dir), "red", "ColorInterp_Red"),
        "red", Seq(0 -> (0, 0, 0), 128 -> (128, 64, 32), 255 -> (255, 255, 255)))
      val cleared = Bands.clearColortable(withCt, "red")
        .withColumnRenamed("bandmeta", "bandmeta_cleared")
      withCt.select(col("image_id"), col("bandmeta"))
        .join(cleared.select(col("image_id"), col("bandmeta_cleared")),
          Seq("image_id"))
        .select(col("image_id"),
          explode(col("bandmeta")).as(Seq("key", "value")),
          size(map_keys(col("bandmeta_cleared"))).cast("long").as("n_after_clear"))
        .orderBy("image_id", "key")
    },
      Some(s"""WITH $I,
         |kv AS (
         |  SELECT image_id, 'red/color/0' AS key, '0,0,0' AS value FROM img2
         |  UNION ALL SELECT image_id, 'red/color/128', '128,64,32' FROM img2
         |  UNION ALL SELECT image_id, 'red/color/255', '255,255,255' FROM img2
         |  UNION ALL SELECT image_id, 'red/colorinterp', 'ColorInterp_Red'
         |    FROM img2)
         |SELECT image_id, key, value, CAST(1 AS BIGINT) AS n_after_clear
         |FROM kv ORDER BY image_id, key""".stripMargin)),

    // radiometric cross-calibration: per-image OLS of epoch-3 on
    // epoch-0 pixels (relative radiometric normalization), exact
    // integer moments (slope/intercept are one rational step away)
    Gate("q_radcal", (s, dir) =>
      Synth.demEpochStacks(s, dir, 4, Seq(0, 3))
        .withColumn("r", graft.ops.Terrain.radcalAgg(
          col("w").cast("int"), col("h").cast("int"),
          lit(0), lit(3), col("eps")))
        .select(col("image_id"), col("r._1").as("n_px"),
          col("r._2").as("sx"), col("r._3").as("sy"),
          col("r._4").as("sxy_n"), col("r._5").as("sxx_n"))
        .orderBy("image_id"),
      Some(s"""WITH $I, $SimgCte,
         |$DemEpochPairCte,
         |jm AS (SELECT image_id,
         |         CAST(COUNT(*) AS BIGINT) AS n_px,
         |         CAST(SUM(v0) AS BIGINT) AS sx,
         |         CAST(SUM(v3) AS BIGINT) AS sy,
         |         CAST(SUM(v0*v3) AS BIGINT) AS sxy,
         |         CAST(SUM(v0*v0) AS BIGINT) AS sxx
         |       FROM jp GROUP BY 1)
         |SELECT image_id, n_px, sx, sy,
         |  n_px*sxy - sx*sy AS sxy_n,
         |  n_px*sxx - sx*sx AS sxx_n
         |FROM jm ORDER BY image_id""".stripMargin)),

    // Laplace-smoothed class-affinity classifier, trained AND applied
    // in-engine: md5-bucket train/val split, (class, term) count model
    // broadcast to the scoring join, argmax by (score desc, lang asc)
    Gate("q_classify", (s, dir) =>
      graft.text.TextOps.classAffinity(Synth.documents(s, dir), 200)
        .orderBy("doc_id"),
      // classifier replay: same md5 split, Laplace counts over train,
      // per-occurrence floored weights, (score desc, lang) argmax
      Some(s"""WITH $ClassifyCtes
        |SELECT doc_id, lang, l AS pred_lang, score FROM crk
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // temporal max-value composite (Holben 1986) over a 6-epoch
    // stack: winning epoch = argmax v (ties → earliest t); per-image
    // composite provenance histogram + winner checksum
    Gate("q_temporal_composite", (s, dir) =>
      Synth.demEpochStacks(s, dir, 6)
        .withColumn("r", explode(graft.ops.Terrain.compositeAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps"))))
        .select(col("image_id"), col("r._1").cast("long").as("t_win"),
          col("r._2").as("n_px"), col("r._3").as("v_sum"))
        .where(col("n_px") > 0)
        .orderBy("image_id", "t_win"),
      // max-value composite: winner = MAX(struct(v, −t)) per pixel
      Some(s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 5)) AS t),
         |ttv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |twin AS (SELECT k, image_id, x, y,
         |           (MAX(struct_pack(v := v, tn := -t))).v AS wv,
         |           (MAX(struct_pack(v := v, tn := -t))).tn AS tn
         |         FROM ttv GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(-tn AS BIGINT) AS t_win,
         |  CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(wv) AS BIGINT) AS v_sum
         |FROM twin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // set_gain/offset column surface: band-0 stats AFTER the read-side
    // raw·gain + offset (bandattr carried as column metadata)
    Gate("q_gain_offset", (s, dir) => {
      val df = Bands.setGainOffset(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
        "blue", gain = 0.1, offset = 5.0)
      df.withColumn("g", Bands.gainOffsetStatsAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands),
          element_at(col("bandattr"), "blue").getField("gain"),
          element_at(col("bandattr"), "blue").getField("offset")))
        .select(col("image_id"), col("g._1").as("n_valid"),
          col("g._2").as("fsum"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $B, $SimgCte, $PxCte
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(FLOOR((CAST(px.v AS DOUBLE) * 0.1 + 5.0) * 1000))
         |    AS BIGINT) AS fsum
         |FROM px JOIN simg s ON s.k = px.k WHERE px.b = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // add_band: derived quantized-NDVI plane appended + re-encoded;
    // stats of the new band prove the payload round trip
    Gate("q_add_band", (s, dir) => {
      val ndviq: Array[Array[Double]] => Array[Double] = cube => {
        val r = cube(2); val n = cube(3)
        Array.tabulate(r.length)(i =>
          if (r(i).isNaN || n(i).isNaN) Double.NaN
          else math.floor((n(i) - r(i)) / (n(i) + r(i)) * 1000) + 1000)
      }
      val df = Bands.addBand(Synth.imagesWithBytes(s, dir, Synth.smallRaw),
        "ndviq", ndviq)
      val agg = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 7), fmt)(6)
        Pixels.validSum(p)
      })
      df.withColumn("a", agg(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), size(col("bands")).cast("long").as("n_bands"),
          col("a._1").as("n_valid"), col("a._2").as("vsum"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |r AS (SELECT k, x, y, v FROM px WHERE b = 2),
         |n AS (SELECT k, x, y, v FROM px WHERE b = 3),
         |q AS (SELECT r.k,
         |        FLOOR((CAST(n.v AS DOUBLE) - r.v) / (n.v + r.v) * 1000)
         |          + 1000 AS v
         |      FROM r JOIN n ON n.k = r.k AND n.x = r.x AND n.y = r.y)
         |SELECT s.image_id, CAST(7 AS BIGINT) AS n_bands,
         |       CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(q.v) AS BIGINT) AS vsum
         |FROM q JOIN simg s ON s.k = q.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // set_bandname: registry rename with uniqueness enforcement
    Gate("q_band_rename", (s, dir) =>
      Bands.renameBand(Synth.images(s, dir), "nir", "nir08")
        .select(col("image_id"),
          posexplode(col("bands")).as(Seq("pos", "band")))
        .select(col("image_id"), col("pos").cast("long").as("pos"), col("band"))
        .orderBy("image_id", "pos"),
      Some {
      val names = Seq("blue", "green", "red", "nir08", "swir1", "swir2")
      val sel = names.zipWithIndex.map { case (n, i) =>
        s"SELECT image_id, CAST($i AS BIGINT) AS pos, '$n' AS band FROM img2"
      }.mkString("\nUNION ALL ")
      s"""WITH $I
         |$sel
         |ORDER BY image_id, pos""".stripMargin
    }),

    // autoscale (min/max variant): band 0 rescaled to [0,1000]
    Gate("q_autoscale", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("a", Algorithms.autoscaleAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("a._1").as("n_valid"),
          col("a._2").as("fsum"))
        .orderBy("image_id"),
      // autoscale: out = clamp((v−vmin)·1000/(vmax−vmin), 0, 1000);
      // constant band ⇒ minout (0)
      Some(s"""WITH $I, $B, $SimgCte, $PxCte,
         |rng AS (SELECT s.k, s.image_id,
         |          p.base + p.ax*s.nw AS vmin,
         |          p.base + p.ax*(s.w-1) + p.ay*(s.h-1) AS vmax
         |        FROM simg s JOIN bandp p ON p.k = s.k AND p.b = 0),
         |o AS (SELECT r.image_id,
         |        CASE WHEN r.vmax = r.vmin THEN 0.0
         |             ELSE LEAST(1000.0, GREATEST(0.0,
         |               (CAST(px.v AS DOUBLE) - r.vmin) *
         |               (1000.0/(CAST(r.vmax AS DOUBLE) - r.vmin)) + 0.0))
         |        END AS outv
         |      FROM px JOIN rng r ON r.k = px.k WHERE px.b = 0)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(FLOOR(outv * 1000)) AS BIGINT) AS fsum
         |FROM o GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SIEVE filter (GDAL's classic small-blob removal): components
    // under minPix=10 pixels drop to background; per-image before/
    // after counts + positional checksum of the kept mask
    Gate("q_sieve", (s, dir) => {
      val sv = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Pixels
        val fg = Synth.stripeMask(bytes, w, h, fmt)
        val lab = Pixels.labelComponents(fg, w, h)
        val sizes = new java.util.HashMap[Int, Long]()
        var i = 0
        while (i < lab.length) {
          if (lab(i) >= 0) sizes.merge(lab(i), 1L, _ + _)
          i += 1
        }
        var nb = 0L; var cb = sizes.size.toLong
        var na = 0L; var chk = 0L
        val kept = new java.util.HashSet[Int]()
        val it = sizes.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next(); nb += e.getValue
          if (e.getValue >= 10L) kept.add(e.getKey)
        }
        i = 0
        while (i < lab.length) {
          if (lab(i) >= 0 && kept.contains(lab(i))) {
            na += 1; chk += (i % w) + 131L * (i / w)
          }
          i += 1
        }
        (nb, cb, na, kept.size.toLong, chk)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("v", sv(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("v._1").as("n_fg_before"),
          col("v._2").as("n_comp_before"), col("v._3").as("n_fg_after"),
          col("v._4").as("n_comp_after"), col("v._5").as("keptchk"))
        .orderBy("image_id")
    },
      Some(s"""WITH RECURSIVE $I, $B, $SimgCte,
         |svoffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |svm0 AS (
         |  $StripeMaskSelect),
         |svf(k, x, y, lab, it) AS (
         |  SELECT k, x, y, y*w + x, 0 FROM svm0
         |  UNION ALL
         |  SELECT c.k, c.x, c.y, c.lab, c.it + 1
         |  FROM (
         |    SELECT t.k, t.x - o.dx AS x, t.y - o.dy AS y,
         |           MIN(t.lab) AS lab, MAX(t.it) AS it
         |    FROM svf t CROSS JOIN svoffs o
         |    GROUP BY 1, 2, 3
         |  ) c JOIN svm0 m ON m.k = c.k AND m.x = c.x AND m.y = c.y
         |  WHERE c.it < 144),
         |svl AS (SELECT k, x, y, lab FROM svf WHERE it = 144),
         |svsz AS (SELECT k, lab, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM svl GROUP BY k, lab),
         |svagg AS (
         |  SELECT l.k,
         |    CAST(COUNT(*) AS BIGINT) AS n_fg_before,
         |    CAST(COUNT(DISTINCT l.lab) AS BIGINT) AS n_comp_before,
         |    CAST(SUM(CASE WHEN z.sz >= 10 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fg_after,
         |    CAST(COUNT(DISTINCT CASE WHEN z.sz >= 10 THEN l.lab END)
         |      AS BIGINT) AS n_comp_after,
         |    CAST(SUM(CASE WHEN z.sz >= 10 THEN l.x + 131*l.y
         |             ELSE 0 END) AS BIGINT) AS keptchk
         |  FROM svl l JOIN svsz z ON z.k = l.k AND z.lab = l.lab
         |  GROUP BY l.k)
         |SELECT s.image_id,
         |  COALESCE(a.n_fg_before, 0) AS n_fg_before,
         |  COALESCE(a.n_comp_before, 0) AS n_comp_before,
         |  COALESCE(a.n_fg_after, 0) AS n_fg_after,
         |  COALESCE(a.n_comp_after, 0) AS n_comp_after,
         |  COALESCE(a.keptchk, 0) AS keptchk
         |FROM simg s LEFT JOIN svagg a ON a.k = s.k
         |ORDER BY s.image_id""".stripMargin)),

    // MAJORITY (mode) filter — classification smoothing: each valid
    // pixel takes the modal class of its valid 3x3 neighborhood
    // (lowest class on ties); nodata stays nodata and casts no vote.
    // Classes = ((p3-p2) % 5 + 5) % 5 — the extract_classes-style
    // derived classification over the valid rect
    Gate("q_majority", (s, dir) => {
      val mj = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val c = Codec.decode(bytes, w, h, Codec.bandsStored(fmt, 6), fmt)
        val cls = Array.tabulate(w * h) { i =>
          val r = c(2)(i); val n = c(3)(i)
          if (r.isNaN || n.isNaN) -1
          else (((n - r).toLong % 5 + 5) % 5).toInt
        }
        var nv = 0L; var sm = 0L; var chk = 0L; var chg = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = y * w + x
            if (cls(p) >= 0) {
              val cnt = new Array[Int](5)
              var dy = -1
              while (dy <= 1) {
                var dx = -1
                while (dx <= 1) {
                  val xx = x + dx; val yy = y + dy
                  if (xx >= 0 && xx < w && yy >= 0 && yy < h &&
                      cls(yy * w + xx) >= 0) cnt(cls(yy * w + xx)) += 1
                  dx += 1
                }
                dy += 1
              }
              var best = 0; var bi = 0; var j = 0
              while (j < 5) {
                if (cnt(j) > best) { best = cnt(j); bi = j }
                j += 1
              }
              nv += 1; sm += bi
              chk += bi.toLong * (x + 131L * y)
              if (bi != cls(p)) chg += 1
            }
            x += 1
          }
          y += 1
        }
        (nv, sm, chk, chg)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("m", mj(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("m._1").as("n_valid"),
          col("m._2").as("modesum"), col("m._3").as("modechk"),
          col("m._4").as("n_changed"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $B, $SimgCte,
         |mjoffs(dx, dy) AS (VALUES (0,0),(-1,-1),(0,-1),(1,-1),
         |  (-1,0),(1,0),(-1,1),(0,1),(1,1)),
         |mjcls AS (
         |  SELECT s.k, xs.x, ys.y,
         |    (((p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
         |      + (p3.ay - p2.ay)*ys.y) % 5 + 5) % 5 AS cls
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  $ValidPixelGrid),
         |mjvote AS (
         |  SELECT c.k, c.x + o.dx AS x, c.y + o.dy AS y, c.cls,
         |         COUNT(*) AS cnt
         |  FROM mjcls c CROSS JOIN mjoffs o
         |  GROUP BY 1, 2, 3, 4),
         |mjsel AS (
         |  SELECT v.k, v.x, v.y,
         |         MIN({'nc': -v.cnt, 'c': v.cls}) AS m
         |  FROM mjvote v
         |  JOIN mjcls t ON t.k = v.k AND t.x = v.x AND t.y = v.y
         |  GROUP BY v.k, v.x, v.y)
         |SELECT s.image_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(l.m.c) AS BIGINT) AS modesum,
         |  CAST(SUM(l.m.c * (l.x + 131*l.y)) AS BIGINT) AS modechk,
         |  CAST(SUM(CASE WHEN l.m.c <> t.cls THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_changed
         |FROM mjsel l
         |JOIN mjcls t ON t.k = l.k AND t.x = l.x AND t.y = l.y
         |JOIN simg s ON s.k = l.k
         |GROUP BY s.image_id ORDER BY s.image_id""".stripMargin)),

    // ---- distributed warp_into / pixel-level mosaic merge ----
    // identity warp preserves every valid pixel (the reference's
    // sum-preservation golden, test_GeoImage.py:207-215): each image
    // warps into its own grid through the tile-gather join
    Gate("q_warp_into_identity", (s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      val grids = Synth.smallRaw(Synth.images(s, dir))
        .select(col("image_id").as("gid"), col("x0m").as("gx0"),
          col("y0m").as("gy0"), col("x1m").as("gx1"), col("y1m").as("gy1"))
      Warp.warpInto(im, grids, pairPredicate = col("gid") === col("image_id"))
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    },
      // identity warp = per-image band-0 valid-pixel sums (closed forms)
      Some(s"""WITH $I, $B,
         |stat AS (SELECT i.image_id, i.w, i.h, i.nw, p.base, p.ax, p.ay,
         |  ((i.w-1)*i.w)//2 - ((i.nw-1)*i.nw)//2 AS sx,
         |  (i.h*(i.h-1))//2 AS sy
         |  FROM img2 i JOIN bandp p ON p.k = i.k AND p.b = 0
         |  WHERE i.k % 6 IN (1,2) AND i.w <= 64 AND i.h <= 64)
         |SELECT image_id AS gid, CAST((w-nw)*h AS BIGINT) AS n_valid,
         |  CAST(base*(w-nw)*h + ax*sx*h + ay*sy*(w-nw) AS BIGINT) AS vsum
         |FROM stat ORDER BY gid""".stripMargin)),

    // pixel-level cookie-cutter: every smallRaw image warps onto each
    // padded destination grid it overlaps; per-pixel last-wins merge
    // (valid overwrites, nodata never) — value-exact vs a per-pixel
    // winner oracle. Grids = image footprints padded ±512 mdeg, so the
    // resample window is offset from the source grid (non-identity)
    // and any overlapping neighbor image merges in by key order.
    Gate("q_mosaic_pixels", (s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      val grids = paddedGrids(s, dir)
      Warp.warpInto(im, grids)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    },
      // pixel-level mosaic: per dst pixel the max-k VALID covering image
      // wins (nodata never overwrites); nearest lookup xi=(gx−x0m)//4
      Some(s"""WITH $I,
         |$PaddedGridCte,
         |hit AS (
         |  -- gx>=x0m / gy<=y1m guards keep // operands non-negative:
         |  -- DuckDB // truncates toward zero, the engine floors
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pxc p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |win AS (SELECT gid, gx, gy, MAX(k) AS k FROM hit GROUP BY 1,2,3),
         |val AS (SELECT w.gid,
         |    200 + (w.k*3) % 800 + (w.k % 8)*h.xi + (w.k % 8)*h.yi AS v
         |  FROM win w JOIN hit h
         |    ON h.gid = w.gid AND h.gx = w.gx AND h.gy = w.gy AND h.k = w.k),
         |sums AS (SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |                CAST(SUM(v) AS BIGINT) AS vsum
         |         FROM val GROUP BY gid)
         |SELECT c.gid, COALESCE(s.n_valid, 0) AS n_valid,
         |       COALESCE(s.vsum, 0) AS vsum
         |FROM cover c LEFT JOIN sums s USING (gid) ORDER BY gid""".stripMargin)),

    // per-pixel MAX composite (best-pixel temporal mosaic rule):
    // the warp_into gather join with the order-insensitive NaN-ignoring
    // max merge instead of overlay order. The small images re-anchor
    // onto one dense 380×380 mdeg window (pure metadata remap) so
    // every destination pixel genuinely merges several images — at
    // sf0.01 all 2668 valid pixels are multi-hit and the max rule
    // diverges from overlay on every one of them
    Gate("q_composite_max", (s, dir) => {
      denseMosaic(s, dir, 1)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    },
      // best-pixel composite: per destination pixel MAX over all
      // covering images' values (vs the overlay rule's MAX(k) winner);
      // images re-anchored onto one dense window, single 95×95 grid
      Some(s"""WITH $I,
         |$DenseHitCte,
         |val AS (SELECT gid, gx, gy,
         |    MAX(200 + (k*3) % 800 + (k % 8)*xi + (k % 8)*yi) AS v
         |  FROM hit GROUP BY 1, 2, 3)
         |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(v) AS BIGINT) AS vsum
         |FROM val GROUP BY gid ORDER BY gid""".stripMargin)),

    // distance-FEATHERED mosaic blend (the seamline-free warp merge:
    // per pixel Σ w·v / Σ w with w = the source pixel's exact squared
    // Euclidean distance to its image's nodata/outside — Pixels.edt2)
    // on the dense multi-hit fixture; exact integer numerator and
    // denominator so the oracle replays the blend with the rect-mask
    // closed form w = min(x-nw+1, w-x, y+1, h-y)²
    Gate("q_mosaic_feather", (s, dir) => {
      denseMosaic(s, dir, 3)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"),
          sum(col("wvsum")).as("wvsum"), sum(col("wsum")).as("wsum"))
        .orderBy("gid")
    },
      Some(s"""WITH $I,
         |fsimg0 AS (SELECT * FROM img2
         |           WHERE w <= 64 AND h <= 64 AND k % 6 IN (1,2)),
         |fsimg AS (SELECT k, image_id, w, h, nw,
         |            (k % 4)*60 - 100 AS x0m, ((k*3) % 4)*60 - 100 AS y0m,
         |            (k % 4)*60 - 100 + w*4 AS x1m,
         |            ((k*3) % 4)*60 - 100 + h*4 AS y1m
         |          FROM fsimg0),
         |fpxc AS (
         |  SELECT CAST(0 AS BIGINT) AS gid,
         |         -120 + xs.i*4 + 2 AS gx, 260 - ys.j*4 - 2 AS gy
         |  FROM (SELECT unnest(generate_series(0, 94)) AS i) xs
         |  CROSS JOIN (SELECT unnest(generate_series(0, 94)) AS j) ys),
         |fhit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k, i.w, i.h, i.nw,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM fpxc p JOIN fsimg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |fval AS (SELECT gid, gx, gy,
         |    SUM(CAST(LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)
         |          AS BIGINT)
         |      * LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)
         |      * (200 + (k*3) % 800 + (k % 8)*xi + (k % 8)*yi)) AS num,
         |    SUM(CAST(LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)
         |          AS BIGINT)
         |      * LEAST(xi - nw + 1, w - xi, yi + 1, h - yi)) AS den
         |  FROM fhit GROUP BY 1, 2, 3)
         |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(num) AS BIGINT) AS wvsum,
         |       CAST(SUM(den) AS BIGINT) AS wsum
         |FROM fval GROUP BY gid ORDER BY gid""".stripMargin)),

    // per-pixel lower-MEDIAN composite (robust rule — rejects the
    // outliers max/overlay keep) on the same dense multi-hit fixture
    Gate("q_composite_median", (s, dir) => {
      denseMosaic(s, dir, 2)
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    },
      // lower median = rank (cnt+1)//2 in ascending per-pixel value
      // order — exact, no interpolating quantile
      Some(s"""WITH $I,
         |$DenseHitCte,
         |hv AS (SELECT gid, gx, gy,
         |    200 + (k*3) % 800 + (k % 8)*xi + (k % 8)*yi AS v
         |  FROM hit),
         |rk AS (SELECT gid, gx, gy, v,
         |    ROW_NUMBER() OVER (PARTITION BY gid, gx, gy ORDER BY v)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY gid, gx, gy) AS cnt
         |  FROM hv)
         |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |       CAST(SUM(v) AS BIGINT) AS vsum
         |FROM rk WHERE rn = (cnt + 1)//2
         |GROUP BY gid ORDER BY gid""".stripMargin)),

    // CUTLINE mosaic: the q_mosaic_pixels pipeline with a global
    // rectangular cutline (mdeg, grid units) — destination pixels whose
    // CENTER ray-casts outside the ring become nodata before the merge
    // (GeoRaster.cpp:261-285's rasterized cutline); for the
    // axis-aligned ring the engine's PIP is exactly the half-open rect
    // the oracle states
    Gate("q_mosaic_cut", (s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      val grids = paddedGrids(s, dir)
      val cut = graft.core.Geom.rectWkt(-100000, -40000, 20000, 30000)
      Warp.warpInto(im, grids, cutWkt = lit(cut))
        .groupBy("gid")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid")
    },
      // cutline mosaic: q_mosaic_pixels' winner-per-pixel restricted to
      // destination centers inside the half-open cut rect (the engine's
      // ray-cast PIP on an axis-aligned ring == [x0,x1)×[y0,y1))
      Some(s"""WITH $I,
         |$PaddedGridCte,
         |pcut AS (SELECT * FROM pxc
         |  WHERE gx >= -100000 AND gx < 20000
         |    AND gy >= -40000 AND gy < 30000),
         |hit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pcut p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |win AS (SELECT gid, gx, gy, MAX(k) AS k FROM hit GROUP BY 1,2,3),
         |val AS (SELECT w.gid,
         |    200 + (w.k*3) % 800 + (w.k % 8)*h.xi + (w.k % 8)*h.yi AS v
         |  FROM win w JOIN hit h
         |    ON h.gid = w.gid AND h.gx = w.gx AND h.gy = w.gy AND h.k = w.k),
         |sums AS (SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |                CAST(SUM(v) AS BIGINT) AS vsum
         |         FROM val GROUP BY gid)
         |SELECT c.gid, COALESCE(s.n_valid, 0) AS n_valid,
         |       COALESCE(s.vsum, 0) AS vsum
         |FROM cover c LEFT JOIN sums s USING (gid) ORDER BY gid""".stripMargin)),

    // MULTI-BAND mosaic: same tile-gather join, every stored band warps
    // through the per-band fragment kernel (reference warps each band,
    // GeoImage.cpp:329-338) — per-(grid, band) merged sums, value-exact
    Gate("q_mosaic_bands", (s, dir) => {
      val im = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      val grids = paddedGrids(s, dir)
      Warp.warpInto(im, grids, nbBands = Synth.NumBands)
        .groupBy("gid", "band")
        .agg(sum(col("n_valid")).as("n_valid"), sum(col("vsum")).as("vsum"))
        .orderBy("gid", "band")
    },
      // multi-band mosaic: same winner-per-pixel as q_mosaic_pixels (the
      // nodata stripe hits every band, so the max-k winner is band-
      // independent), value from each band's own ramp params
      Some(s"""WITH $I, $B,
         |$PaddedGridCte,
         |hit AS (
         |  SELECT p.gid, p.gx, p.gy, i.k,
         |         (p.gx - i.x0m)//4 AS xi, (i.y1m - p.gy)//4 AS yi
         |  FROM pxc p JOIN simg i
         |    ON p.gx >= i.x0m AND p.gy <= i.y1m
         |   AND (p.gx - i.x0m)//4 BETWEEN i.nw AND i.w-1
         |   AND (i.y1m - p.gy)//4 BETWEEN 0 AND i.h-1),
         |win AS (SELECT gid, gx, gy, MAX(k) AS k FROM hit GROUP BY 1,2,3),
         |val AS (SELECT w.gid, p.b AS band,
         |    p.base + p.ax*h.xi + p.ay*h.yi AS v
         |  FROM win w JOIN hit h
         |    ON h.gid = w.gid AND h.gx = w.gx AND h.gy = w.gy AND h.k = w.k
         |  JOIN bandp p ON p.k = w.k),
         |sums AS (SELECT gid, band, CAST(COUNT(*) AS BIGINT) AS n_valid,
         |                CAST(SUM(v) AS BIGINT) AS vsum
         |         FROM val GROUP BY gid, band)
         |SELECT c.gid, CAST(bn.b AS BIGINT) AS band,
         |       COALESCE(s.n_valid, 0) AS n_valid,
         |       COALESCE(s.vsum, 0) AS vsum
         |FROM cover c CROSS JOIN bands bn
         |LEFT JOIN sums s ON s.gid = c.gid AND s.band = bn.b
         |ORDER BY 1, 2""".stripMargin)),

    // pixel-spectra k-means with farthest-point seeding
    // (get_random_classes analog) — per-image cluster histogram
    Gate("q_kmeans_pixels", (s, dir) =>
      Algorithms.kmeansPixels(s, Synth.imagesWithBytes(s, dir, Synth.smallRaw), 4, 3)
        .orderBy("image_id", "cluster"),
      None),

    // BIT-REPRODUCIBLE pixel-spectra k-means: all valid pixels' integer
    // spectra, per-image-first seeds, truncated integer centroids —
    // oracle replays all rounds over regenerated pixels
    Gate("q_kmeans_pixels_exact", (s, dir) =>
      Algorithms.kmeansPixelsExact(s,
          Synth.imagesWithBytes(s, dir, Synth.smallRaw), 4, 3, Synth.NumBands)
        .orderBy("image_id", "cluster"),
      // exact-integer pixel-spectra k-means ground truth: pixels
      // regenerated via pixelGen, spectra as ordered integer lists,
      // per-image-first seeds (string image_id order, matching Spark's
      // orderBy), three unrolled Lloyd rounds with `//` centroid means
      Some {
      val K = 4; val Iters = 3; val Dim = 6
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        I, SimgCte, B, PxCte,
        """spx AS (SELECT i.image_id, p.x, p.y, list(p.v ORDER BY p.b) AS qe
          |  FROM px p JOIN img2 i ON i.k = p.k GROUP BY 1, 2, 3)""".stripMargin,
        s"dims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"""c1 AS (SELECT ROW_NUMBER() OVER (ORDER BY image_id) - 1 AS cid,
           |  qe AS ce FROM
           |  (SELECT image_id, qe, ROW_NUMBER() OVER (PARTITION BY image_id
           |     ORDER BY y, x) AS rn FROM spx)
           |  WHERE rn = 1 ORDER BY image_id LIMIT $K)""".stripMargin)
      for (r <- 1 to Iters) {
        ctes += s"""d$r AS (SELECT q.image_id, q.x, q.y, c.cid,
                   |  SUM((q.qe[d.i]-c.ce[d.i])*(q.qe[d.i]-c.ce[d.i])) AS dist
                   |  FROM spx q, c$r c, dims d GROUP BY 1, 2, 3, 4)""".stripMargin
        ctes += s"""a$r AS (SELECT image_id, x, y, cid AS cluster FROM
                   |  (SELECT image_id, x, y, cid, ROW_NUMBER() OVER (
                   |     PARTITION BY image_id, x, y ORDER BY dist, cid) AS rn
                   |   FROM d$r) WHERE rn = 1)""".stripMargin
        if (r < Iters) {
          ctes += s"""s$r AS (SELECT a.cluster, d.i,
                     |  SUM(q.qe[d.i]) // COUNT(*) AS m
                     |  FROM a$r a JOIN spx q USING (image_id, x, y), dims d
                     |  GROUP BY 1, 2)""".stripMargin
          ctes += s"""c${r + 1} AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
                     |  FROM c$r p LEFT JOIN (SELECT cluster AS cid,
                     |    list(m ORDER BY i) AS ce FROM s$r GROUP BY 1) n
                     |  USING (cid))""".stripMargin
        }
      }
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT image_id, CAST(cluster AS BIGINT) AS cluster," +
        s" CAST(COUNT(*) AS BIGINT) AS n_px" +
        s"\nFROM a$Iters GROUP BY 1, 2 ORDER BY image_id, cluster"
    }),

    // pansharp_brovey through the TWO-TABLE join: MS payload ⋈ derived
    // 2× pan payload on image_id, per-pair sharpen kernel
    Gate("q_pansharp", (s, dir) => {
      val ms = Synth.imagesWithBytes(s, dir, Synth.smallRaw)
      val panGen = udf((k: Long, w: Int, h: Int) => {
        import graft.core.Codec
        val pw = w * 2; val ph = h * 2
        val base = 200 + (k * 3) % 800; val ax = k % 8; val ay = k % 8
        val p = Array.tabulate(pw * ph)(i =>
          (base + ax * (i % pw) + ay * (i / pw)).toDouble)
        Codec.encode(Array(p), pw, ph, "raw-i16le")
      })
      val pan = Synth.smallRaw(Synth.images(s, dir))
        .withColumn("pan_bytes", panGen(col("k"), col("w").cast("int"),
          col("h").cast("int")))
        .select(col("image_id"), col("pan_bytes"),
          (col("w") * 2).cast("int").as("pw"),
          (col("h") * 2).cast("int").as("ph"))
      ms.join(pan, Seq("image_id"))
        .withColumn("ps", Algorithms.pansharpAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          col("pan_bytes"), col("pw"), col("ph")))
        .select(col("image_id"), col("ps._1").as("n_valid"),
          col("ps._2").as("fsum"))
        .orderBy("image_id")
    },
      // pansharp_brovey ground truth: with a 2× upscale every Catmull-Rom
      // intermediate is an exact dyadic rational (denominator 16384), so
      // the upscaled planes regenerate in PURE INTEGER SQL (c128 row
      // pass, c16384 column pass, clamped 4×4 windows, nodata → NULL via
      // COUNT(*)=4); the Brovey ratio then uses the same exact double
      // operands as the Scala kernel, making floor(out·1e3) sums
      // value-exact (verified per-image against the engine)
      Some(s"""WITH $I, $SimgCte,
         |pbands AS (SELECT unnest([0,1,2,3]) AS b),
         |pbandp AS (
         |  SELECT s.k, CAST(pb.b AS BIGINT) AS b,
         |         200 + (s.k*(pb.b+3)) % 800 AS base,
         |         (s.k + 11*pb.b) % 8 AS ax,
         |         (s.k + 17*pb.b) % 8 AS ay
         |  FROM simg s CROSS JOIN pbands pb),
         |ppx AS (
         |  SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s
         |  JOIN pbandp p ON p.k = s.k
         |  $ValidPixelGrid),
         |xg AS (SELECT s.k, s.w, s.h, xs.gx,
         |         CAST(FLOOR((xs.gx-1)/2.0) AS BIGINT) AS x1,
         |         CASE WHEN xs.gx % 2 = 0 THEN 3 ELSE 1 END AS tnx
         |       FROM simg s CROSS JOIN LATERAL
         |         (SELECT unnest(generate_series(0,
         |            CAST(2*s.w-1 AS INT))) AS gx) xs),
         |offs AS (SELECT unnest([0,1,2,3]) AS j),
         |rown AS (SELECT x.k, x.gx, x.tnx, o.j,
         |           LEAST(x.w-1, GREATEST(0, x.x1 + o.j - 1)) AS sx
         |         FROM xg x CROSS JOIN offs o),
         |rowv AS (SELECT r.k, p.b, r.gx, p.y, r.tnx, r.j, p.v
         |         FROM rown r JOIN ppx p ON p.k = r.k AND p.x = r.sx),
         |rowc AS (SELECT k, b, gx, y, tnx,
         |  CASE WHEN COUNT(*) = 4 THEN
         |    128*MAX(CASE WHEN j=1 THEN v END)
         |    + 16*tnx*(MAX(CASE WHEN j=2 THEN v END)
         |        - MAX(CASE WHEN j=0 THEN v END))
         |    + 4*tnx*tnx*(2*MAX(CASE WHEN j=0 THEN v END)
         |        - 5*MAX(CASE WHEN j=1 THEN v END)
         |        + 4*MAX(CASE WHEN j=2 THEN v END)
         |        - MAX(CASE WHEN j=3 THEN v END))
         |    + tnx*tnx*tnx*(3*(MAX(CASE WHEN j=1 THEN v END)
         |        - MAX(CASE WHEN j=2 THEN v END))
         |        + MAX(CASE WHEN j=3 THEN v END)
         |        - MAX(CASE WHEN j=0 THEN v END))
         |  END AS c128
         |  FROM rowv GROUP BY k, b, gx, y, tnx),
         |yg AS (SELECT s.k, s.h, ys.gy,
         |         CAST(FLOOR((ys.gy-1)/2.0) AS BIGINT) AS y1,
         |         CASE WHEN ys.gy % 2 = 0 THEN 3 ELSE 1 END AS tny
         |       FROM simg s CROSS JOIN LATERAL
         |         (SELECT unnest(generate_series(0,
         |            CAST(2*s.h-1 AS INT))) AS gy) ys),
         |coln AS (SELECT y.k, y.gy, y.tny, o.j,
         |           LEAST(y.h-1, GREATEST(0, y.y1 + o.j - 1)) AS sy
         |         FROM yg y CROSS JOIN offs o),
         |colv AS (SELECT c.k, r.b, r.gx, c.gy, c.tny, c.j, r.c128
         |         FROM coln c JOIN rowc r ON r.k = c.k AND r.y = c.sy
         |         WHERE r.c128 IS NOT NULL),
         |up AS (SELECT k, b, gx, gy,
         |  CASE WHEN COUNT(*) = 4 THEN
         |    128*MAX(CASE WHEN j=1 THEN c128 END)
         |    + 16*tny*(MAX(CASE WHEN j=2 THEN c128 END)
         |        - MAX(CASE WHEN j=0 THEN c128 END))
         |    + 4*tny*tny*(2*MAX(CASE WHEN j=0 THEN c128 END)
         |        - 5*MAX(CASE WHEN j=1 THEN c128 END)
         |        + 4*MAX(CASE WHEN j=2 THEN c128 END)
         |        - MAX(CASE WHEN j=3 THEN c128 END))
         |    + tny*tny*tny*(3*(MAX(CASE WHEN j=1 THEN c128 END)
         |        - MAX(CASE WHEN j=2 THEN c128 END))
         |        + MAX(CASE WHEN j=3 THEN c128 END)
         |        - MAX(CASE WHEN j=0 THEN c128 END))
         |  END AS c16384
         |  FROM colv GROUP BY k, b, gx, gy, tny),
         |piv AS (SELECT k, gx, gy,
         |          MAX(CASE WHEN b=2 THEN c16384 END) AS r16,
         |          MAX(CASE WHEN b=1 THEN c16384 END) AS g16,
         |          MAX(CASE WHEN b=0 THEN c16384 END) AS b16,
         |          MAX(CASE WHEN b=3 THEN c16384 END) AS n16,
         |          COUNT(c16384) AS nbv
         |        FROM up GROUP BY k, gx, gy),
         |sharp AS (SELECT p.k, p.gx, p.gy, p.r16, p.g16, p.b16,
         |          ((200 + (p.k*3) % 800) + (p.k%8)*p.gx + (p.k%8)*p.gy
         |            - CAST(p.n16 AS DOUBLE)/65536.0)
         |          / ((CAST(p.r16 AS DOUBLE) + p.g16 + p.b16)/65536.0) AS dnf
         |        FROM piv p WHERE p.nbv = 4)
         |SELECT i.image_id, CAST(3*COUNT(*) AS BIGINT) AS n_valid,
         |  CAST(SUM(
         |    CAST(FLOOR(CAST(s.r16 AS DOUBLE)/16384.0 * s.dnf * 1000.0)
         |      AS BIGINT)
         |    + CAST(FLOOR(CAST(s.g16 AS DOUBLE)/16384.0 * s.dnf * 1000.0)
         |      AS BIGINT)
         |    + CAST(FLOOR(CAST(s.b16 AS DOUBLE)/16384.0 * s.dnf * 1000.0)
         |      AS BIGINT)) AS BIGINT) AS fsum
         |FROM sharp s JOIN img2 i ON i.k = s.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_rxd", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("rx", Algorithms.rxdAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("rx._1").as("n_valid"),
          floor(col("rx._2") * 1e3).cast("long").as("rx_fsum"),
          floor(col("rx._3") * 1e6).cast("long").as("rx_fmax"))
        .orderBy("image_id"),
      None),

    // EXACT-INTEGER spectral scatter (spectral_covariance's gate):
    // per band pair, M_ab = n·ΣQ − S·S = n²·Cov — closed-form ramp
    // sums make every entry a pure integer the oracle re-derives
    Gate("q_spectral_cov", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("sc", explode(Algorithms.scatterAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands))))
        .select(col("image_id"), col("sc._1").as("ba"),
          col("sc._2").as("bb"), col("sc._3").as("mval"))
        .orderBy("image_id", "ba", "bb"),
      // spectral scatter: closed-form ramp sums per band pair — with
      // W = w−nw, N = W·h, Svsum_b = base_b·N + ax_b·sx·h + ay_b·sy·W,
      // Q_ab expands over (sx, sx2, sy, sy2, sx·sy)
      Some(s"""WITH $I, $B, $SimgCte,
         |stat AS (
         |  SELECT s.k, s.image_id, (s.w - s.nw)*s.h AS n,
         |    ((s.w-1)*s.w)//2 - ((s.nw-1)*s.nw)//2 AS sx,
         |    ((s.w-1)*s.w*(2*s.w-1))//6
         |      - ((s.nw-1)*s.nw*(2*s.nw-1))//6 AS sx2,
         |    (s.h*(s.h-1))//2 AS sy,
         |    ((s.h-1)*s.h*(2*s.h-1))//6 AS sy2,
         |    s.w - s.nw AS ww, s.h AS hh
         |  FROM simg s),
         |pr AS (SELECT a.k, a.b AS ba, b.b AS bb,
         |         a.base AS base_a, a.ax AS ax_a, a.ay AS ay_a,
         |         b.base AS base_b, b.ax AS ax_b, b.ay AS ay_b
         |       FROM bandp a JOIN bandp b
         |         ON b.k = a.k AND b.b >= a.b)
         |SELECT t.image_id, CAST(p.ba AS BIGINT) AS ba,
         |  CAST(p.bb AS BIGINT) AS bb,
         |  t.n * (p.base_a*p.base_b*t.n
         |    + p.base_a*(p.ax_b*t.sx*t.hh + p.ay_b*t.sy*t.ww)
         |    + p.base_b*(p.ax_a*t.sx*t.hh + p.ay_a*t.sy*t.ww)
         |    + p.ax_a*p.ax_b*t.sx2*t.hh + p.ay_a*p.ay_b*t.sy2*t.ww
         |    + (p.ax_a*p.ay_b + p.ax_b*p.ay_a)*t.sx*t.sy)
         |  - (p.base_a*t.n + p.ax_a*t.sx*t.hh + p.ay_a*t.sy*t.ww)
         |    * (p.base_b*t.n + p.ax_b*t.sx*t.hh + p.ay_b*t.sy*t.ww)
         |  AS mval
         |FROM stat t JOIN pr p ON p.k = t.k
         |ORDER BY 1, 2, 3""".stripMargin)),

    // BIT-REPRODUCIBLE RX anomaly (exact-integer twin of q_rxd): 16
    // seeded sample pixels, bands 0-2, Mahalanobis as the exact ratio
    // yᵀ·adj(M)·y / det(M) over the ridged integer scatter matrix —
    // both big integers surface as decimal strings, so the DuckDB
    // oracle replays them digit-exactly (no float matrix inverse on
    // either side)
    Gate("q_rxd_exact", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("rx", Algorithms.rxdExactAgg(col("k"), col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands)))
        .select(col("image_id"), col("rx._1").as("n_valid"),
          col("rx._2").as("rx_det"), col("rx._3").as("rx_num"))
        .orderBy("image_id"),
      // exact-integer RXD: 16 seeded samples (read_random_pixels index
      // formula), bands 0-2; M = n·Q − S·Sᵀ + I (HUGEINT), det by
      // cofactor expansion, adj(M) entries, per-sample y = n·v − S,
      // num = Σ yᵀ·adj(M)·y — all integer, compared as decimal strings
      Some(s"""WITH $I, $B, $SimgCte,
         |samp AS (SELECT s.k, s.image_id, s.w, s.h, s.nw,
         |    (s.k*1103515245 + ii.i*2654435761) % (s.w*s.h) AS idx
         |  FROM simg s CROSS JOIN
         |    (SELECT unnest(generate_series(0, 15)) AS i) ii),
         |sv AS (SELECT p.k, p.image_id,
         |    b0.base + b0.ax*(p.idx % p.w) + b0.ay*(p.idx // p.w) AS v0,
         |    b1.base + b1.ax*(p.idx % p.w) + b1.ay*(p.idx // p.w) AS v1,
         |    b2.base + b2.ax*(p.idx % p.w) + b2.ay*(p.idx // p.w) AS v2
         |  FROM samp p
         |  JOIN bandp b0 ON b0.k = p.k AND b0.b = 0
         |  JOIN bandp b1 ON b1.k = p.k AND b1.b = 1
         |  JOIN bandp b2 ON b2.k = p.k AND b2.b = 2
         |  WHERE (p.idx % p.w) >= p.nw),
         |ag AS (SELECT k, image_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(v0) AS s0, SUM(v1) AS s1, SUM(v2) AS s2,
         |    SUM(v0*v0) AS q00, SUM(v0*v1) AS q01, SUM(v0*v2) AS q02,
         |    SUM(v1*v1) AS q11, SUM(v1*v2) AS q12, SUM(v2*v2) AS q22
         |  FROM sv GROUP BY 1, 2),
         |mm AS (SELECT k, image_id, n, s0, s1, s2,
         |    CAST(n*q00 - s0*s0 + 1 AS HUGEINT) AS m00,
         |    CAST(n*q01 - s0*s1 AS HUGEINT) AS m01,
         |    CAST(n*q02 - s0*s2 AS HUGEINT) AS m02,
         |    CAST(n*q11 - s1*s1 + 1 AS HUGEINT) AS m11,
         |    CAST(n*q12 - s1*s2 AS HUGEINT) AS m12,
         |    CAST(n*q22 - s2*s2 + 1 AS HUGEINT) AS m22
         |  FROM ag),
         |dd AS (SELECT *,
         |    m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m02*m12)
         |      + m02*(m01*m12 - m02*m11) AS det3,
         |    (m11*m22 - m12*m12) AS a00,
         |    (m02*m12 - m01*m22) AS a01,
         |    (m01*m12 - m02*m11) AS a02,
         |    (m00*m22 - m02*m02) AS a11,
         |    (m02*m01 - m00*m12) AS a12,
         |    (m00*m11 - m01*m01) AS a22
         |  FROM mm),
         |ys AS (SELECT d.*,
         |    CAST(d.n*v.v0 - d.s0 AS HUGEINT) AS y0,
         |    CAST(d.n*v.v1 - d.s1 AS HUGEINT) AS y1,
         |    CAST(d.n*v.v2 - d.s2 AS HUGEINT) AS y2
         |  FROM dd d JOIN sv v ON v.k = d.k),
         |res AS (SELECT k, image_id, n, det3,
         |    SUM(y0*y0*a00 + y1*y1*a11 + y2*y2*a22
         |      + 2*(y0*y1*a01 + y0*y2*a02 + y1*y2*a12)) AS num
         |  FROM ys GROUP BY 1, 2, 3, 4)
         |SELECT s.image_id, COALESCE(r.n, 0) AS n_valid,
         |  COALESCE(CAST(r.det3 AS VARCHAR), '0') AS rx_det,
         |  COALESCE(CAST(r.num AS VARCHAR), '0') AS rx_num
         |FROM simg s LEFT JOIN res r ON r.image_id = s.image_id
         |ORDER BY 1""".stripMargin)),

    Gate("q_cloud_mask", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("cm", Algorithms.cloudMaskAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands),
          lit(45.0), lit(135.0), lit(450.0))) // sun geometry: se/sa/cloudheight
        .select(col("image_id"), col("cm._1").as("n_pass1"),
          col("cm._2").as("n_amb"), col("cm._3").as("n_cloud"),
          col("cm._4").as("n_final"))
        .orderBy("image_id"),
      // ACCA cloud-mask ground truth: the proxy cascade is fully SQL-
      // expressible — NDVI/whiteness ratios are deterministic IEEE
      // divisions of exact integers, the pass-2 threshold is an exact
      // integer mean, dilate is a 3×3 valid-neighbor max join, and the
      // sun-geometry shadow smear's shift list comes from the SAME
      // Algorithms.smearOffsets the engine uses (embedded as literals)
      Some {
      val offs = Algorithms.smearOffsets(45.0, 135.0, 450.0)
      val smearJoin =
        if (offs.isEmpty) "" else {
          val vals = offs.map { case (sx, sy) => s"($sx, $sy)" }.mkString(", ")
          s"""smoffs AS (SELECT * FROM (VALUES $vals) AS t(sx, sy)),"""
        }
      val smearExpr =
        if (offs.isEmpty) "g0.g AS f"
        else "GREATEST(g0.g, COALESCE(MAX(gs.g), 0)) AS f"
      val smearFrom =
        if (offs.isEmpty) "FROM grown g0 GROUP BY 1, 2, 3, g0.g"
        else """FROM grown g0
               |  LEFT JOIN smoffs s ON true
               |  LEFT JOIN grown gs ON gs.k = g0.k
               |    AND gs.x = g0.x - s.sx AND gs.y = g0.y - s.sy
               |  GROUP BY 1, 2, 3, g0.g""".stripMargin
      s"""WITH $I, $SimgCte,
         |cbands AS (SELECT unnest([0,1,2,3]) AS b),
         |cbandp AS (
         |  SELECT s.k, CAST(cb.b AS BIGINT) AS b,
         |         200 + (s.k*(cb.b+3)) % 800 AS base,
         |         (s.k + 11*cb.b) % 8 AS ax,
         |         (s.k + 17*cb.b) % 8 AS ay
         |  FROM simg s CROSS JOIN cbands cb),
         |cpx AS (
         |  SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s
         |  JOIN cbandp p ON p.k = s.k
         |  $ValidPixelGrid),
         |spec AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS blue,
         |    MAX(CASE WHEN b=1 THEN v END) AS green,
         |    MAX(CASE WHEN b=2 THEN v END) AS red,
         |    MAX(CASE WHEN b=3 THEN v END) AS nir
         |  FROM cpx GROUP BY 1, 2, 3),
         |p1 AS (SELECT k, x, y, blue,
         |    CASE WHEN blue > 500
         |          AND CAST(nir-red AS DOUBLE)/(nir+red) < 0.3
         |          AND (abs(red - (CAST(red+green+blue AS DOUBLE)/3))
         |             + abs(green - (CAST(red+green+blue AS DOUBLE)/3))
         |             + abs(blue - (CAST(red+green+blue AS DOUBLE)/3)))
         |            / (CAST(red+green+blue AS DOUBLE)/3) < 0.7 THEN 1
         |         WHEN blue > 500
         |          AND CAST(nir-red AS DOUBLE)/(nir+red) < 0.6 THEN 2
         |         ELSE 0 END AS pass1
         |  FROM spec),
         |th AS (SELECT k,
         |    CASE WHEN COUNT(CASE WHEN pass1=1 THEN 1 END) = 0 THEN NULL
         |         ELSE CAST(SUM(CASE WHEN pass1=1 THEN blue END) AS DOUBLE)
         |              / COUNT(CASE WHEN pass1=1 THEN 1 END) END AS thresh
         |  FROM p1 GROUP BY k),
         |msk AS (SELECT p.k, p.x, p.y,
         |    CASE WHEN p.pass1 = 1 OR (p.pass1 = 2 AND t.thresh IS NOT NULL
         |           AND p.blue >= t.thresh) THEN 1 ELSE 0 END AS m
         |  FROM p1 p JOIN th t ON t.k = p.k),
         |offs3 AS (SELECT a.dx, b.dy FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |          (SELECT unnest([-1,0,1]) AS dy) b),
         |grown AS (SELECT m0.k, m0.x, m0.y, MAX(mn.m) AS g
         |  FROM msk m0 JOIN offs3 o ON true
         |  JOIN msk mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |$smearJoin
         |fin AS (SELECT g0.k, g0.x, g0.y,
         |    $smearExpr
         |  $smearFrom)
         |SELECT i.image_id,
         |  CAST(SUM(CASE WHEN p.pass1=1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass1,
         |  CAST(SUM(CASE WHEN p.pass1=2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_amb,
         |  CAST(SUM(m.m) AS BIGINT) AS n_cloud,
         |  CAST(SUM(f.f) AS BIGINT) AS n_final
         |FROM p1 p
         |JOIN msk m USING (k, x, y)
         |JOIN fin f USING (k, x, y)
         |JOIN img2 i ON i.k = p.k
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // FAITHFUL thermal ACCA (reference constants, filters 1-7 +
    // percentile pass 2 + smear) on derived reflectance/LWIR planes —
    // rows-only (percentile interpolation + morphology multi-pass)
    Gate("q_acca_thermal", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("at", Algorithms.accaThermalAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(45.0), lit(135.0), lit(0), lit(3),
          lit(450.0)))
        .select(col("image_id"), col("at._1").as("n_final"),
          col("at._2").as("n_cloud"), col("at._3").as("n_amb"),
          col("at._4").as("n_pass1"))
        .orderBy("image_id"),
      // THERMAL ACCA ground truth — the full reference cascade replayed
      // in SQL: filters 1-7 as deterministic IEEE ratios, pass-2 cloud
      // statistics via ORDERED list_reduce folds (bit-identical to the
      // kernel's pixel-order accumulation, the one place float sums are
      // order-sensitive), LWIR percentiles via the proven 100-bin
      // interpolation pattern, skew-capped threshold shift, warm/cold
      // acceptance, dilate join, engine-derived smear offsets
      Some(accaThermalOracle(5))),

    // Thermal ACCA on an INDEPENDENT synthesized LWIR band, shipped as
    // its own single-band file and band-stacked onto the reflectance
    // image via an equi-join on k — the reference's multi-file model
    // (GeoImage.h:60-74). The thermal pass now runs on data the
    // reflectance cascade never saw.
    Gate("q_acca_thermal_lwir", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .join(Synth.lwirImages(s, dir, Synth.smallRaw)
                .select(col("k"), col("lwir_bytes")), Seq("k"))
        .withColumn("at", Algorithms.accaThermalLwirAgg(col("bytes"),
          col("lwir_bytes"), col("w").cast("int"), col("h").cast("int"),
          col("fmt"), lit(45.0), lit(135.0), lit(0), lit(3), lit(450.0)))
        .select(col("image_id"), col("at._1").as("n_final"),
          col("at._2").as("n_cloud"), col("at._3").as("n_amb"),
          col("at._4").as("n_pass1"))
        .orderBy("image_id"),
      // same cascade, temperature from the INDEPENDENT LWIR band file
      // (multi-file band stack) instead of the swir2-derived proxy
      Some(accaThermalOracle(6))),

    Gate("q_fmask", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("fm", Algorithms.fmaskAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(3), lit(3)))
        .select(col("image_id"), col("fm._1").as("n_final"),
          col("fm._2").as("n_cloud"), col("fm._3").as("n_pcp"),
          col("fm._4").as("n_water"), col("fm._5").as("n_land"))
        .orderBy("image_id"),
      // FMASK ground truth — full multi-pass replay in SQL: PCP/water/
      // land cascade (deterministic IEEE ratios), Twater/Tlo/Thi and the
      // lprob-land threshold via the 100-bin percentile pattern over
      // MASKED per-pixel doubles (regenerated with exact op order),
      // no-land fallback, wprob/lprob probability maps, erode-5 (valid-
      // neighbor min join) then dilate-3
      Some(s"""WITH $I, $SimgCte,
         |fb AS (SELECT unnest([0,1,2,3,4,5]) AS b),
         |fbp AS (SELECT s.k, CAST(t.b AS BIGINT) AS b,
         |         200 + (s.k*(t.b+3)) % 800 AS base,
         |         (s.k + 11*t.b) % 8 AS ax, (s.k + 17*t.b) % 8 AS ay
         |       FROM simg s CROSS JOIN fb t),
         |fpx AS (SELECT s.k, p.b, xs.x, ys.y,
         |         p.base + p.ax*xs.x + p.ay*ys.y AS v
         |  FROM simg s JOIN fbp p ON p.k = s.k
         |  $ValidPixelGrid),
         |sp0 AS (SELECT k, x, y,
         |    MAX(CASE WHEN b=0 THEN v END) AS ib,
         |    MAX(CASE WHEN b=1 THEN v END) AS ig,
         |    MAX(CASE WHEN b=2 THEN v END) AS ir,
         |    MAX(CASE WHEN b=3 THEN v END) AS inr,
         |    MAX(CASE WHEN b=4 THEN v END) AS is1,
         |    MAX(CASE WHEN b=5 THEN v END) AS is2
         |  FROM fpx GROUP BY 1, 2, 3),
         |sp AS (SELECT k, x, y,
         |    CAST(ib AS DOUBLE)/1000 AS b, CAST(ig AS DOUBLE)/1000 AS g,
         |    CAST(ir AS DOUBLE)/1000 AS r, CAST(inr AS DOUBLE)/1000 AS n,
         |    CAST(is1 AS DOUBLE)/1000 AS s1, CAST(is2 AS DOUBLE)/1000 AS s2,
         |    (abs(ir - (CAST(ir+ig+ib AS DOUBLE)/3))
         |     + abs(ig - (CAST(ir+ig+ib AS DOUBLE)/3))
         |     + abs(ib - (CAST(ir+ig+ib AS DOUBLE)/3)))
         |      / (CAST(ir+ig+ib AS DOUBLE)/3) AS white
         |  FROM sp0),
         |feat AS (SELECT k, x, y, b, g, r, n, s1, s2, white,
         |    (n - r)/(n + r) AS ndvi, (g - s1)/(g + s1) AS ndsi
         |  FROM sp),
         |cls AS (SELECT k, x, y, s1, s2, white, ndvi, ndsi,
         |    CASE WHEN s2 > 0.4 AND s2 < 2.0 AND ndvi < 0.8 AND ndsi < 0.8
         |          AND b - 0.5*r > 0.08 AND white < 0.7 AND n/s1 > 0.75
         |         THEN 1 ELSE 0 END AS pcp,
         |    CASE WHEN (ndvi < 0.01 AND n < 0.7) OR (ndvi < 0.1 AND n < 0.8)
         |         THEN 1 ELSE 0 END AS water,
         |    1.0 - GREATEST(white, GREATEST(abs(ndsi), abs(ndvi))) AS vprob
         |  FROM feat),
         |cls2 AS (SELECT *, CASE WHEN water=0 AND pcp=0 THEN 1 ELSE 0 END
         |  AS land FROM cls),
         |hl AS (SELECT k, MAX(land) AS hasland FROM cls2 GROUP BY k),
         |wmask AS (SELECT k, CASE WHEN water=1 THEN s2 END AS mv FROM cls2),
         |${pctCte("tw", "wmask", Seq(82.5))},
         |lmask AS (SELECT c.k,
         |    CASE WHEN h.hasland = 1 THEN (CASE WHEN c.land=1 THEN c.s2 END)
         |         ELSE c.s2 END AS mv
         |  FROM cls2 c JOIN hl h ON h.k = c.k),
         |${pctCte("tl", "lmask", Seq(17.5, 82.5))},
         |ths AS (SELECT t.k,
         |    (SELECT res FROM twsel w WHERE w.k = t.k AND w.pct = 82.5)
         |      AS twater,
         |    MAX(CASE WHEN t.pct=17.5 THEN t.res END) AS tlo,
         |    MAX(CASE WHEN t.pct=82.5 THEN t.res END) AS thi
         |  FROM tlsel t GROUP BY t.k),
         |prob AS (SELECT c.k, c.x, c.y, c.pcp, c.water, c.land, c.s2,
         |    (h.twater - c.s2)/0.4 * (LEAST(c.s1, 1.1)/1.1) AS wprob,
         |    (h.thi + 0.4 - c.s2)/(h.thi + 0.4 - (h.tlo - 0.4)) * c.vprob
         |      AS lprob,
         |    h.tlo
         |  FROM cls2 c JOIN ths h ON h.k = c.k),
         |llmask AS (SELECT p.k,
         |    CASE WHEN p.lprob IS NOT NULL
         |          AND (CASE WHEN h.hasland = 1 THEN p.land = 1 ELSE true END)
         |         THEN p.lprob END AS mv
         |  FROM prob p JOIN hl h ON h.k = p.k),
         |${pctCte("lt", "llmask", Seq(82.5))},
         |lth AS (SELECT k, res + 0.2 + 0.0 AS lthresh
         |  FROM ltsel WHERE pct = 82.5),
         |fcl0 AS (SELECT p.k, p.x, p.y,
         |    CASE WHEN (p.pcp = 1 AND p.water = 1 AND p.wprob > 0.5)
         |           OR (p.pcp = 1 AND p.water = 0 AND p.lprob > l.lthresh)
         |           OR (p.lprob > 0.99 AND p.water = 0)
         |           OR (p.s2 > p.tlo + 0.25)
         |         THEN 1 ELSE 0 END AS c0,
         |    p.pcp, p.water
         |  FROM prob p JOIN lth l ON l.k = p.k),
         |foffs5 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-2,-1,0,1,2]) AS dx) a,
         |       (SELECT unnest([-2,-1,0,1,2]) AS dy) b),
         |fer AS (SELECT m0.k, m0.x, m0.y, MIN(mn.c0) AS e
         |  FROM fcl0 m0 JOIN foffs5 o ON true
         |  JOIN fcl0 mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3),
         |foffs3 AS (SELECT a.dx, b.dy
         |  FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |       (SELECT unnest([-1,0,1]) AS dy) b),
         |fdl AS (SELECT m0.k, m0.x, m0.y, MAX(mn.e) AS d
         |  FROM fer m0 JOIN foffs3 o ON true
         |  JOIN fer mn ON mn.k = m0.k AND mn.x = m0.x + o.dx
         |    AND mn.y = m0.y + o.dy
         |  GROUP BY 1, 2, 3)
         |SELECT i.image_id,
         |  CAST(SUM(1 - d.d) AS BIGINT) AS n_final,
         |  CAST(SUM(d.d) AS BIGINT) AS n_cloud,
         |  CAST(SUM(c.pcp) AS BIGINT) AS n_pcp,
         |  CAST(SUM(c.water) AS BIGINT) AS n_water,
         |  CAST(SUM(CASE WHEN c.water=0 AND c.pcp=0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_land
         |FROM fcl0 c JOIN fdl d USING (k, x, y) JOIN img2 i ON i.k = c.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // FAITHFUL thermal fmask (reference constants + BT percentiles) on
    // the same derived reflectance/LWIR planes as q_acca_thermal —
    // rows-only (percentiles + morphology)
    Gate("q_fmask_thermal", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("fm", Algorithms.fmaskThermalAgg(col("bytes"),
          col("w").cast("int"), col("h").cast("int"), col("fmt"),
          lit(Synth.NumBands), lit(3), lit(3)))
        .select(col("image_id"), col("fm._1").as("n_final"),
          col("fm._2").as("n_cloud"), col("fm._3").as("n_pcp"),
          col("fm._4").as("n_water"), col("fm._5").as("n_land"))
        .orderBy("image_id"),
      // THERMAL FMASK ground truth — reference constants on refl + BT
      // planes, same multi-pass SQL replay as q_fmask plus the 99.9%-PCP
      // early-exit override (mask = pcp) and the BT-based Twater mask
      Some(fmaskThermalOracle(5))),

    // Thermal fmask with BT from the INDEPENDENT LWIR band file (same
    // multi-file stack as q_acca_thermal_lwir)
    Gate("q_fmask_thermal_lwir", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .join(Synth.lwirImages(s, dir, Synth.smallRaw)
                .select(col("k"), col("lwir_bytes")), Seq("k"))
        .withColumn("fm", Algorithms.fmaskThermalLwirAgg(col("bytes"),
          col("lwir_bytes"), col("w").cast("int"), col("h").cast("int"),
          col("fmt"), lit(3), lit(3)))
        .select(col("image_id"), col("fm._1").as("n_final"),
          col("fm._2").as("n_cloud"), col("fm._3").as("n_pcp"),
          col("fm._4").as("n_water"), col("fm._5").as("n_land"))
        .orderBy("image_id"),
      // BT from the INDEPENDENT LWIR band file (multi-file band stack)
      Some(fmaskThermalOracle(6)))
  )
}
