package graft.gen

/** DuckDB-SQL mirrors of [[Synth]]'s integer derivations. Each query in
  * `SparkEntry.oracleSql` composes these CTEs so the driver's DuckDB
  * oracle re-derives the same tables from the same parquet files.
  * DuckDB list literals are 1-indexed; `//` is integer division (Spark
  * side uses `div`); all arithmetic is BIGINT-exact.
  */
object OracleCte {

  private def sqlList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("[", ",", "]")

  /** images metadata CTE: img2(k, image_id, w, h, fmt, nw, caption,
    * x0m, y0m, x1m, y1m). */
  val images: String =
    s"""img AS (
       |  SELECT CAST(p_partkey AS BIGINT) AS k,
       |         'img-' || CAST(p_partkey AS VARCHAR) AS image_id,
       |         CAST(16 + (p_partkey*13) % 240 AS BIGINT) AS w,
       |         CAST(16 + (p_partkey*29) % 240 AS BIGINT) AS h,
       |         ${sqlList(Synth.Formats)}[CAST(p_partkey % 6 AS INT)+1] AS fmt,
       |         CAST(p_partkey % 5 AS BIGINT) AS nw,
       |         'a ' || ${sqlList(Synth.Adjs)}[CAST(p_partkey % 16 AS INT)+1] ||
       |           ' photo of ' ||
       |           ${sqlList(Synth.Nouns)}[CAST((p_partkey*7) % 16 AS INT)+1] AS caption,
       |         (p_partkey*7919) % 300000 - 150000 AS x0m,
       |         (p_partkey*104729) % 120000 - 60000 AS y0m
       |  FROM part),
       |img2 AS (SELECT *, x0m + w*4 AS x1m, y0m + h*4 AS y1m FROM img)""".stripMargin

  /** polygon CTE: poly2(fid, px0m, py0m, pwm, phm, px1m, py1m). */
  val polygons: String =
    """poly AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS fid,
      |         (n_nationkey*51237 + 7919) % 280000 - 150000 AS px0m,
      |         (n_nationkey*26543 + 104729) % 100000 - 55000 AS py0m,
      |         4000 + (n_nationkey*3571) % 28000 AS pwm,
      |         3000 + (n_nationkey*2713) % 20000 AS phm
      |  FROM nation),
      |poly2 AS (SELECT *, px0m+pwm AS px1m, py0m+phm AS py1m FROM poly)""".stripMargin

  /** per-band pixel params: bandp(b, base, ax, ay) for a given image k
    * (join against img2). */
  val bandParams: String =
    """bands AS (SELECT unnest([0,1,2,3,4,5]) AS b),
      |bandp AS (
      |  SELECT k, CAST(b AS BIGINT) AS b,
      |         200 + (k*(b+3)) % 800 AS base,
      |         (k + 11*b) % 8 AS ax,
      |         (k + 17*b) % 8 AS ay
      |  FROM img2 CROSS JOIN bands)""".stripMargin

  /** SQL mirror of [[graft.vec.VectorOps.lshBucket]]: sign-random-
    * projection bucket id over `edCol` (a DOUBLE[] column), integer
    * plane weights — bit-exact across engines because every
    * weight·component product is an exact double. */
  def lshBucketSql(edCol: String, dim: Int, nb: Int, table: Int): String =
    (0 until nb).map { j =>
      val w = (0 until dim)
        .map(i => graft.vec.VectorOps.planeW(table, j, i)).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product($edCol, $w::DOUBLE[]) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** audio metadata CTE — SQL mirror of [[Synth.audio]]:
    * aud(k, audio_id, sr, n, lead, tail, f, m, speaker, lang). */
  val audio: String =
    s"""aud AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS k,
       |         'aud-' || CAST(c_custkey AS VARCHAR) AS audio_id,
       |         CAST(8000*(1 + c_custkey % 2) AS BIGINT) AS sr,
       |         CAST(400 + (c_custkey*37) % 1600 AS BIGINT) AS n,
       |         CAST(c_custkey % 50 AS BIGINT) AS lead,
       |         CAST((c_custkey*3) % 50 AS BIGINT) AS tail,
       |         CAST(3 + c_custkey % 13 AS BIGINT) AS f,
       |         CAST(2*(500 + (c_custkey*13) % 1500) AS BIGINT) AS m,
       |         'spk-' || CAST(c_custkey % 20 AS VARCHAR) AS speaker,
       |         ${sqlList(Synth.AudioLangs)}[CAST((c_custkey*3) % 5 AS INT)+1]
       |           AS lang
       |  FROM customer)""".stripMargin

  /** Sample-exact waveform replay (lateral generate_series) — SQL
    * mirror of [[Synth.audioSample]]: asamp(k, audio_id, sr, n, i, s).
    * Requires a preceding CTE `saud` selecting a subset of aud. The
    * soft-frame attenuation is floor(raw/16.0), NOT `// 16`: DuckDB
    * `//` truncates toward zero on negatives while the Scala kernel
    * floor-divides. */
  val audioGen: String =
    """asamp AS (
      |  SELECT a.k, a.audio_id, a.sr, a.n, gs.i,
      |    CASE WHEN gs.i < a.lead OR gs.i >= a.n - a.tail THEN 0
      |         WHEN ((gs.i // 160) % 3) = 0 THEN
      |           CAST(floor((((gs.i*a.f + a.k*7) % a.m) - a.m//2)
      |                      / 16.0) AS BIGINT)
      |         ELSE ((gs.i*a.f + a.k*7) % a.m) - a.m//2 END AS s
      |  FROM saud a
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(a.n-1 AS INT))) AS i) gs)""".stripMargin

  /** Twin-aware waveform replay: like [[audioGen]] but `saud` must
    * carry a BOOLEAN `tw` column; twin rows add +1 where
    * (i*31 + k) % 997 = 0 (mirror of [[Synth.audioTwinSample]]). */
  val audioGenTw: String =
    """asamp AS (
      |  SELECT a.k, a.audio_id, a.sr, a.n, gs.i,
      |    (CASE WHEN gs.i < a.lead OR gs.i >= a.n - a.tail THEN 0
      |          WHEN ((gs.i // 160) % 3) = 0 THEN
      |            CAST(floor((((gs.i*a.f + a.k*7) % a.m) - a.m//2)
      |                       / 16.0) AS BIGINT)
      |          ELSE ((gs.i*a.f + a.k*7) % a.m) - a.m//2 END)
      |    + (CASE WHEN a.tw AND (gs.i*31 + a.k) % 997 = 0
      |            THEN 1 ELSE 0 END) AS s
      |  FROM saud a
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(a.n-1 AS INT))) AS i) gs)""".stripMargin

  /** Pixel-exact regeneration for small images (lateral
    * generate_series): px(k, b, x, y, v) over VALID pixels only.
    * Requires a preceding CTE `simg` selecting small rows of img2. */
  val pixelGen: String =
    """px AS (
      |  SELECT s.k, p.b, xs.x, ys.y,
      |         p.base + p.ax*xs.x + p.ay*ys.y AS v
      |  FROM simg s
      |  JOIN bandp p ON p.k = s.k
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys
      |  WHERE xs.x >= s.nw)""".stripMargin

  val SimgCte =
    """simg AS (SELECT * FROM img2
      |  WHERE w <= 64 AND h <= 64 AND k % 6 IN (1, 2))""".stripMargin

  /** SQL mirror of Synth.demValue over the small-image grid (requires
    * simg): demp(k, image_id, w, h, x, y, z) — quadratic-mod DEM,
    * full-valid, all BIGINT. */
  val DemCte =
    """demp AS (
      |  SELECT s.k, s.image_id, s.w, s.h, xs.x, ys.y,
      |    100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
      |         + (s.k%3+1)*xs.x*ys.y
      |         + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900 AS z
      |  FROM simg s
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys)""".stripMargin

  /** D8 neighbor table (requires nothing): d8(code, dx, dy) in the
    * Terrain.Dx/Dy order — E,SE,S,SW,W,NW,N,NE. */
  val D8Cte =
    """d8 AS (SELECT * FROM (VALUES (0,1,0),(1,1,1),(2,0,1),(3,-1,1),
      |  (4,-1,0),(5,-1,-1),(6,0,-1),(7,1,-1)) AS t(code, dx, dy))""".stripMargin

  /** SQL mirror of Codec.aHash over the px pixel grid (requires simg +
    * px): 8×8 block partition x0=(bx·w)//8, x1=((bx+1)·w)//8 (exact for
    * w,h ≥ 16, which simg guarantees), 2^-20-quantized block means,
    * bit ⇔ 64·q > Σq; bit 63 = block (0,0) via the two's-complement
    * min literal. Produces phi(image_id, phash). */
  val PhashCte =
    """blocks AS (SELECT unnest(generate_series(0, 7)) AS bi),
      |blk AS (SELECT s.k, byb.bi AS byi, bxb.bi AS bxi,
      |          (bxb.bi*s.w)//8 AS bx0, ((bxb.bi+1)*s.w)//8 AS bx1,
      |          (byb.bi*s.h)//8 AS by0, ((byb.bi+1)*s.h)//8 AS by1
      |        FROM simg s CROSS JOIN blocks bxb CROSS JOIN blocks byb),
      |bm AS (SELECT b.k, b.byi, b.bxi,
      |         COUNT(p.v) AS n, COALESCE(SUM(p.v), 0) AS sv
      |       FROM blk b LEFT JOIN px p ON p.k = b.k AND p.b = 0
      |         AND p.x >= b.bx0 AND p.x < b.bx1
      |         AND p.y >= b.by0 AND p.y < b.by1
      |       GROUP BY 1, 2, 3),
      |bq AS (SELECT k, byi, bxi,
      |         CASE WHEN n = 0 THEN 0
      |              ELSE CAST(FLOOR(CAST(sv AS DOUBLE)/n*1048576.0) AS BIGINT)
      |         END AS mq
      |       FROM bm),
      |bt AS (SELECT k, SUM(mq) AS tot FROM bq GROUP BY k),
      |ph AS (SELECT q.k, CAST(SUM(
      |         CASE WHEN 64*q.mq > t.tot THEN
      |           CASE WHEN q.byi = 0 AND q.bxi = 0
      |                THEN -9223372036854775807 - 1
      |                ELSE (CAST(1 AS BIGINT) << CAST(63 - (q.byi*8 + q.bxi) AS INT))
      |           END
      |         ELSE 0 END) AS BIGINT) AS phash
      |       FROM bq q JOIN bt t ON t.k = q.k GROUP BY q.k),
      |phi AS (SELECT s.image_id, p.phash FROM ph p JOIN simg s ON s.k = p.k)""".stripMargin

  val TokCte =
    """tok AS (SELECT doc_id, lang, n_chars, text,
      |  string_split(text, ' ') AS ts FROM documents)""".stripMargin

  /** '|' as an interpolation value: oracle lines must never BEGIN with
    * a literal pipe (stripMargin is applied twice — see the verify
    * skill notes), so pipe-heavy expressions interpolate this. */
  val Pipe = "|"

  /** SQL for the value of the `pos`-th (1-based) hex digit of a
    * lowercase md5 column — the DuckDB mirror of Cms.hexVal. */
  def hx(c: String, pos: Int): String =
    s"(CASE WHEN ascii(substr($c, $pos, 1)) <= 57 " +
      s"THEN ascii(substr($c, $pos, 1)) - 48 " +
      s"ELSE ascii(substr($c, $pos, 1)) - 87 END)"

  /** The event point (mirror of [[Synth.eventPx]], [[Synth.eventPy]])
    * over an md5 column `hm`: the select items `px, py` over four lines,
    * continuation lines indented `ind` spaces. */
  def eventPxPy(ind: Int): String = {
    val p = " " * ind
    s"""CAST(${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
       |$p  + ${hx("hm", 3)} AS BIGINT) AS px,
       |${p}CAST(${hx("hm", 4)}*256 + ${hx("hm", 5)}*16
       |$p  + ${hx("hm", 6)} AS BIGINT) AS py""".stripMargin
  }

  /** Exact-integer Lloyd rounds over quantized embeddings (mirror of
    * `Algorithms.kmeansEmbeddingsExact`): CTEs `${p}d$r` (distances),
    * `${p}a$r` (assignment, ties to the lowest cid) and, between rounds,
    * `${p}s$r` / `${p}c${r+1}` (truncated integer means, empty clusters
    * keep their center). Requires `${p}q`(vec_id, qe), `${p}dims`(i) and
    * the seed centers `${p}c1`(cid, ce). */
  def lloydRounds(p: String, iters: Int): Seq[String] = {
    val q = if (p.isEmpty) "q" else s"${p}q q"
    (1 to iters).flatMap { r =>
      Seq(s"""${p}d$r AS (SELECT q.vec_id, c.cid,
             |  SUM((q.qe[d.i]-c.ce[d.i])*(q.qe[d.i]-c.ce[d.i])) AS dist
             |  FROM $q, ${p}c$r c, ${p}dims d GROUP BY 1, 2)""".stripMargin,
        s"""${p}a$r AS (SELECT vec_id, cid AS cluster FROM
           |  (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY
           |     vec_id ORDER BY dist, cid) AS rn FROM ${p}d$r)
           |  WHERE rn = 1)""".stripMargin) ++
      (if (r == iters) Nil else Seq(
        s"""${p}s$r AS (SELECT a.cluster, d.i,
           |  SUM(q.qe[d.i]) // COUNT(*) AS m
           |  FROM ${p}a$r a JOIN $q ON q.vec_id = a.vec_id, ${p}dims d
           |  GROUP BY 1, 2)""".stripMargin,
        s"""${p}c${r + 1} AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
           |  FROM ${p}c$r p LEFT JOIN (SELECT cluster AS cid,
           |    list(m ORDER BY i) AS ce FROM ${p}s$r GROUP BY 1) n
           |  USING (cid))""".stripMargin))
    }
  }

  /** Join condition of the image proximity pairs (mirror of
    * `SpatialJoin.proximityEdges(images, 3000)`): `a`, `b` are img2 rows,
    * b.k > a.k and the footprints padded by 3000 mdeg overlap. */
  val ProximityOn =
    """ON b.k > a.k
      |        AND a.x0m - 3000 < b.x1m + 3000
      |        AND b.x0m - 3000 < a.x1m + 3000
      |        AND a.y0m - 3000 < b.y1m + 3000
      |        AND b.y0m - 3000 < a.y1m + 3000""".stripMargin

  /** The DEM trend value of small-image pixel (xs.x, ys.y) of image
    * `s` at epoch `e.t`, as a select item `v` (mirror of
    * [[Synth.trendValue]]). */
  val TrendValue =
    """100 + ((s.k%7+1)*xs.x*xs.x + (s.k%5+1)*ys.y*ys.y
      |               + (s.k%3+1)*xs.x*ys.y
      |               + ((s.k*3)%11)*xs.x + ((s.k*7)%13)*ys.y) % 1900
      |          + e.t * ((xs.x + ys.y + s.k) % 7 - 3)
      |          + (e.t*e.t*(xs.x+1)*(s.k%11+1)) % 5 AS v""".stripMargin

  /** Epochs 0 and 3 of the small-image DEM trend stack side by side
    * (mirror of `Synth.demEpochStacks(_, _, 4, Seq(0, 3))`):
    * jp(k, image_id, x, y, v0, v3). Requires simg. */
  val DemEpochPairCte =
    s"""jep AS (SELECT unnest([0, 3]) AS t),
       |jtv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
       |          $TrendValue
       |        FROM simg s CROSS JOIN jep e
       |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
       |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
       |jp AS (SELECT k, image_id, x, y,
       |         MAX(CASE WHEN t = 0 THEN v END) AS v0,
       |         MAX(CASE WHEN t = 3 THEN v END) AS v3
       |       FROM jtv GROUP BY 1, 2, 3, 4)""".stripMargin

  /** The stripe-mask foreground pixels (mirror of
    * [[Synth.stripeMask]]) as a SELECT of (k, w, h, x, y) over simg and
    * bandp. */
  val StripeMaskSelect =
    """SELECT s.k, s.w, s.h, xs.x, ys.y
      |  FROM simg s
      |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
      |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(s.w-1 AS INT))) AS x) xs
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
      |    CAST(s.h-1 AS INT))) AS y) ys
      |  WHERE xs.x >= s.nw
      |    AND (p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
      |      + (p3.ay - p2.ay)*ys.y > 0
      |    AND ((p3.base - p2.base) + (p3.ax - p2.ax)*xs.x
      |      + (p3.ay - p2.ay)*ys.y) % 5 IN (1, 2)""".stripMargin

  /** Daily event counts per 512-mdeg cell of the event points of users
    * below 150, and each cell's Mann-Kendall S (mirror of
    * `SpatialJoin.mannKendallCells(points, 512, 86400)`):
    * mkb(gi, gj, tb, c), mks(gi, gj, s_stat). */
  val MannKendallCte =
    s"""mke AS (SELECT event_id,
       |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
       |          md5(CAST(event_id AS VARCHAR)) AS hm
       |        FROM events WHERE user_id < 150),
       |mkp AS (SELECT t,
       |          ${eventPxPy(10)}
       |        FROM mke),
       |mkb AS (SELECT px//512 AS gi, py//512 AS gj,
       |          t//86400 AS tb, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM mkp GROUP BY 1, 2, 3),
       |mks AS (SELECT a.gi, a.gj,
       |          CAST(SUM(CASE WHEN b.c > a.c THEN 1
       |            WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
       |            AS s_stat
       |        FROM mkb a JOIN mkb b
       |          ON a.gi = b.gi AND a.gj = b.gj AND a.tb < b.tb
       |        GROUP BY 1, 2)""".stripMargin

  /** The event tracks of users below 40 (mirror of
    * `Synth.eventTracks(_, _, 40)`): dpp(user_id, idx, px, py) and the
    * per-user point count dpn(user_id, n). */
  val UserTracksCte =
    s"""dpe AS (SELECT user_id, ts, event_id,
       |          md5(CAST(event_id AS VARCHAR)) AS hm
       |        FROM events WHERE user_id < 40),
       |dpp AS (SELECT user_id,
       |          ROW_NUMBER() OVER (PARTITION BY user_id
       |            ORDER BY ts, event_id) - 1 AS idx,
       |          ${eventPxPy(10)}
       |        FROM dpe),
       |dpn AS (SELECT user_id, COUNT(*) AS n FROM dpp GROUP BY 1)""".stripMargin

  /** The language classifier replay (mirror of
    * `TextOps.classAffinity(documents, 200)`): md5 val split of 200‰,
    * Laplace term counts over the train split, per-occurrence floored
    * weights, ranked per doc: crk(doc_id, lang, l, score, rk). */
  val ClassifyCtes =
    """clb AS (SELECT doc_id,
      |  CAST((strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
      |     + (strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      |     + (strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
      |    AS BIGINT) AS bucket
      |  FROM documents),
      |cls AS (SELECT d.doc_id, d.lang, d.text,
      |          CASE WHEN b.bucket * 1000 < 200 * 65536
      |            THEN 'val' ELSE 'train' END AS split
      |        FROM documents d JOIN clb b ON b.doc_id = d.doc_id),
      |ctk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
      |        FROM cls WHERE split = 'train'),
      |ctl AS (SELECT lang AS l, term, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM ctk GROUP BY 1, 2),
      |cnl AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nl
      |        FROM ctk GROUP BY 1),
      |cvv AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
      |        FROM ctk),
      |cdn AS (SELECT l, nl + v.v AS den FROM cnl, cvv v),
      |cvt AS (SELECT doc_id, lang,
      |          unnest(string_split(text, ' ')) AS term
      |        FROM cls WHERE split = 'val'),
      |csc AS (SELECT t.doc_id, t.lang, d.l,
      |          CAST(SUM(((COALESCE(m.c, 0) + 1) * 1000000) // d.den)
      |            AS BIGINT) AS score
      |        FROM cvt t CROSS JOIN cdn d
      |        LEFT JOIN ctl m ON m.l = d.l AND m.term = t.term
      |        GROUP BY 1, 2, 3),
      |crk AS (SELECT doc_id, lang, l, score,
      |          ROW_NUMBER() OVER (PARTITION BY doc_id
      |            ORDER BY score DESC, l) AS rk
      |        FROM csc)""".stripMargin

  /** SQL mirror of TextOps.md5Bucket: first 4 hex chars of md5(expr)
    * as an integer 0..65535 (the deterministic-selection hash). */
  def Md5BucketSql(expr: String): String =
    s"""CAST((strpos('0123456789abcdef', substr(md5($expr), 1, 1)) - 1) * 4096
       |   + (strpos('0123456789abcdef', substr(md5($expr), 2, 1)) - 1) * 256
       |   + (strpos('0123456789abcdef', substr(md5($expr), 3, 1)) - 1) * 16
       |   + (strpos('0123456789abcdef', substr(md5($expr), 4, 1)) - 1)
       |  AS BIGINT)""".stripMargin
}
