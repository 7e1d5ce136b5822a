package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.gen.OracleCte.{DemEpochPairCte, Md5BucketSql, SimgCte, TokCte,
  UserTracksCte, bandParams => B, eventPxPy, images => I}
import graft.ops.{Bands, Stats}

/** The relational gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object RelationalGates {


  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // multi-granularity OLAP CUBE over (fmt, nodata-width): all four
    // grouping sets in one pass (Catalyst expands to a single
    // shuffle with grouping-id)
    Gate("q_cube", (s, dir) =>
      Synth.images(s, dir)
        .cube(col("fmt"), col("nw"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("w") * col("h")).as("px_sum"))
        .orderBy(col("fmt").asc_nulls_first, col("nw").asc_nulls_first),
      Some(s"""WITH $I
         |SELECT fmt, nw, CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(w*h) AS BIGINT) AS px_sum
         |FROM img2 GROUP BY CUBE (fmt, nw)
         |ORDER BY fmt NULLS FIRST, nw NULLS FIRST""".stripMargin)),

    // info() debug summary — one line per image from metadata columns
    Gate("q_info", (s, dir) =>
      Bands.info(Synth.images(s, dir)).orderBy("image_id"),
      Some {
      val bandList = Synth.BandNames.mkString(",")
      s"""WITH $I
         |SELECT image_id,
         |  image_id || ': ' || CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR)
         |  || ' fmt=' || fmt || ' bands=$bandList'
         |  || ' extent=[' || CAST(x0m AS VARCHAR) || ',' || CAST(y0m AS VARCHAR)
         |  || ',' || CAST(x1m AS VARCHAR) || ',' || CAST(y1m AS VARCHAR) || ']'
         |  AS info
         |FROM img2 ORDER BY image_id""".stripMargin
    }),

    // corpus language-mixture Gini impurity (the diversity number a
    // data-mixing recipe targets): 10⁶·(n²−Σc²) div n², classes-
    // bounded aggregate, one output row
    Gate("q_gini_mix", (s, dir) => {
      val cl = Synth.documents(s, dir).groupBy("lang").agg(count(lit(1)).as("c"))
      cl.agg(sum(col("c")).as("n"), count(lit(1)).as("n_langs"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("n").as("n_docs"), col("n_langs"),
          expr("((n * n - ss) * 1000000) div (n * n)").as("gini_scaled"))
    },
      // mixture-Gini replay: per-class counts, n²-scaled impurity
      Some("""WITH gmc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM documents GROUP BY 1),
        |gmt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |          CAST(COUNT(*) AS BIGINT) AS n_langs,
        |          CAST(SUM(c*c) AS BIGINT) AS ss FROM gmc)
        |SELECT n AS n_docs, n_langs,
        |  CAST(((n * n - ss) * 1000000) // (n * n) AS BIGINT)
        |    AS gini_scaled
        |FROM gmt""".stripMargin)),

    // stay-point detection (anchor walk, r² = 1048576, ≥3 points):
    // per-user stay count, anchor/span sums, anchor checksum
    Gate("q_staypoints", (s, dir) => {
      Synth.trackLists(Synth.eventTracks(s, dir, 40))
        .withColumn("r", graft.ops.Tracks.stayAgg(col("pts"),
          lit(1048576L), lit(3)))
        .select(col("user_id"), col("r._1").as("n_stays"),
          col("r._2").as("a_sum"), col("r._3").as("span_sum"),
          col("r._4").as("chk"))
        .where(col("n_stays") > 0)
        .orderBy("user_id")
    },
      // anchor-chain walk as a strictly-advancing recursive CTE;
      // breakout = first index beyond r² of the anchor
      Some(s"""WITH RECURSIVE
         |$UserTracksCte,
         |spw AS (
         |  SELECT user_id, CAST(0 AS BIGINT) AS a FROM dpn
         |  UNION ALL
         |  SELECT q.user_id, q.j AS a FROM (
         |    SELECT w.user_id, w.a, MIN(p.idx) AS j
         |    FROM spw w
         |    JOIN dpp pa ON pa.user_id = w.user_id AND pa.idx = w.a
         |    JOIN dpp p ON p.user_id = w.user_id AND p.idx > w.a
         |      AND (p.px - pa.px)*(p.px - pa.px)
         |        + (p.py - pa.py)*(p.py - pa.py) > 1048576
         |    GROUP BY w.user_id, w.a
         |  ) q),
         |spb AS (SELECT w.user_id, w.a,
         |          COALESCE(MIN(CASE WHEN
         |            (p.px - pa.px)*(p.px - pa.px)
         |              + (p.py - pa.py)*(p.py - pa.py) > 1048576
         |            THEN p.idx END), n.n) AS j
         |        FROM spw w
         |        JOIN dpn n ON n.user_id = w.user_id
         |        JOIN dpp pa ON pa.user_id = w.user_id AND pa.idx = w.a
         |        LEFT JOIN dpp p ON p.user_id = w.user_id
         |          AND p.idx > w.a
         |        GROUP BY w.user_id, w.a, n.n),
         |sps AS (SELECT b.user_id, b.a, b.j - b.a AS span,
         |          pa.px, pa.py
         |        FROM spb b JOIN dpp pa ON pa.user_id = b.user_id
         |          AND pa.idx = b.a
         |        WHERE b.j - b.a >= 3)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_stays,
         |  CAST(SUM(a) AS BIGINT) AS a_sum,
         |  CAST(SUM(span) AS BIGINT) AS span_sum,
         |  CAST(SUM(px + 131*py) AS BIGINT) AS chk
         |FROM sps GROUP BY 1 ORDER BY 1""".stripMargin)),

    // origin-destination trip matrix: per (user, day) the first→last
    // md5-coordinate point (argmin/argmax by in-day index as struct
    // MIN/MAX), both snapped to a 512-pitch cell grid, counted per
    // (origin cell, destination cell)
    Gate("q_od_flows", (s, dir) => {
      val pts = Synth.eventTracks(s, dir, 200, perDay = true)
      graft.ops.Tracks.odFlows(pts, 512L)
        .orderBy("o_cx", "o_cy", "d_cx", "d_cy")
    },
      // OD trip matrix: per (user, day) the first/last point by in-day
      // index via lexicographic struct MIN/MAX (exact in both engines),
      // snapped to 512-pitch cells; day = floor(epoch/86400) is safe
      // against unix_timestamp's sub-second truncation
      Some(s"""WITH ode AS (SELECT user_id,
         |          CAST(FLOOR(epoch(ts)/86400) AS BIGINT) AS day,
         |          ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 200),
         |odp AS (SELECT user_id, day,
         |          ROW_NUMBER() OVER (PARTITION BY user_id, day
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          ${eventPxPy(10)}
         |        FROM ode),
         |odt AS (SELECT user_id, day,
         |          (MIN(struct_pack(i := idx, x := px, y := py))).x AS ox,
         |          (MIN(struct_pack(i := idx, x := px, y := py))).y AS oy,
         |          (MAX(struct_pack(i := idx, x := px, y := py))).x AS dx,
         |          (MAX(struct_pack(i := idx, x := px, y := py))).y AS dy
         |        FROM odp GROUP BY 1, 2)
         |SELECT ox // 512 AS o_cx, oy // 512 AS o_cy,
         |  dx // 512 AS d_cx, dy // 512 AS d_cy,
         |  CAST(COUNT(*) AS BIGINT) AS n_trips
         |FROM odt GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin)),

    // per-user mobility statistics: divide-free radius of gyration
    // (gyr_num = n²·r_g² = n·Σ|p|² − |Σp|²) plus the squared
    // jump-length sum/max in track order
    Gate("q_mobility", (s, dir) => {
      val pts = Synth.eventTracks(s, dir, 150)
      graft.ops.Tracks.mobilityStats(pts).orderBy("user_id")
    },
      // radius of gyration divide-free (n·Σ|p|² − |Σp|², all BIGINT)
      // + lagged squared jumps; single-point users hit the COALESCEs
      Some(s"""WITH moe AS (SELECT user_id, ts, event_id,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |mop AS (SELECT user_id,
         |          ROW_NUMBER() OVER (PARTITION BY user_id
         |            ORDER BY ts, event_id) - 1 AS idx,
         |          ${eventPxPy(10)}
         |        FROM moe),
         |mol AS (SELECT user_id, px, py,
         |          LAG(px) OVER (PARTITION BY user_id ORDER BY idx) AS lx,
         |          LAG(py) OVER (PARTITION BY user_id ORDER BY idx) AS ly
         |        FROM mop)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |  CAST(COUNT(*)*(SUM(px*px) + SUM(py*py))
         |    - (SUM(px)*SUM(px) + SUM(py)*SUM(py)) AS BIGINT) AS gyr_num,
         |  CAST(COALESCE(SUM(CASE WHEN lx IS NOT NULL THEN
         |    (px-lx)*(px-lx) + (py-ly)*(py-ly) END), 0) AS BIGINT)
         |    AS jump_sq_sum,
         |  CAST(COALESCE(MAX((px-lx)*(px-lx) + (py-ly)*(py-ly)), 0)
         |    AS BIGINT) AS jump_sq_max
         |FROM mol GROUP BY 1 ORDER BY 1""".stripMargin)),

    // convoy pairs: users co-located (d <= 256) in >= 3 consecutive
    // day buckets — per-day banded pair join + island-trick runs
    Gate("q_convoy", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150).select(col("user_id").as("u"),
        col("px"), col("py"), unix_timestamp(col("ts")).as("t"))
      graft.ops.Tracks.convoyPairs(pts, 256L, 86400L, 3)
        .orderBy("ua", "ub")
    },
      // convoy ground truth: per-day co-location pairs (distinct), then
      // consecutive-run islands via tb - ROW_NUMBER
      Some(s"""WITH cve AS (SELECT event_id, user_id,
         |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         |          md5(CAST(event_id AS VARCHAR)) AS hm
         |        FROM events WHERE user_id < 150),
         |cvp AS (SELECT user_id AS u, t//86400 AS tb,
         |          ${eventPxPy(10)}
         |        FROM cve),
         |cvm AS (SELECT DISTINCT a.u AS ua, b.u AS ub, a.tb
         |        FROM cvp a JOIN cvp b
         |          ON a.tb = b.tb AND a.u < b.u
         |         AND b.px//256 BETWEEN a.px//256 - 1 AND a.px//256 + 1
         |         AND b.py//256 BETWEEN a.py//256 - 1 AND a.py//256 + 1
         |         AND (a.px-b.px)*(a.px-b.px)
         |           + (a.py-b.py)*(a.py-b.py) <= 65536),
         |cvr AS (SELECT ua, ub, tb,
         |          tb - ROW_NUMBER() OVER (PARTITION BY ua, ub
         |            ORDER BY tb) AS grp
         |        FROM cvm),
         |cvg AS (SELECT ua, ub, grp,
         |          CAST(COUNT(*) AS BIGINT) AS run
         |        FROM cvr GROUP BY 1, 2, 3)
         |SELECT ua, ub, CAST(SUM(run) AS BIGINT) AS n_buckets,
         |  CAST(MAX(run) AS BIGINT) AS max_run
         |FROM cvg GROUP BY 1, 2 HAVING MAX(run) >= 3
         |ORDER BY 1, 2""".stripMargin)),

    // chi-square association over the epoch-0/3 joint histogram:
    // margins × margins cross product per image (absent cells o=0),
    // exact n-scaled (o−e)²/e summed as scaled integers — the
    // change-STRENGTH statistic next to the raw change matrix
    Gate("q_chi2_assoc", (s, dir) =>
      Stats.chi2FromJointHist(
        Synth.demEpochStacks(s, dir, 4, Seq(0, 3))
          .withColumn("r", explode(graft.ops.Terrain.jointHistAgg(
            col("w").cast("int"), col("h").cast("int"),
            lit(0), lit(3), col("eps"))))
          .select(col("image_id"), col("r._1").as("b0"),
            col("r._2").as("b3"), col("r._3").as("n_px")))
        .orderBy("image_id"),
      // chi-square replay: the q_joint_hist derivation, then margins,
      // cross product with o=0 fill, exact floored contributions
      Some(s"""WITH $I, $SimgCte,
         |$DemEpochPairCte,
         |jh AS (SELECT image_id, CAST(v0 // 256 AS BIGINT) AS b0,
         |         CAST(v3 // 256 AS BIGINT) AS b3,
         |         CAST(COUNT(*) AS BIGINT) AS o
         |       FROM jp GROUP BY 1, 2, 3),
         |jr AS (SELECT image_id, b0, CAST(SUM(o) AS BIGINT) AS rc
         |       FROM jh GROUP BY 1, 2),
         |jc AS (SELECT image_id, b3, CAST(SUM(o) AS BIGINT) AS cc
         |       FROM jh GROUP BY 1, 2),
         |jn AS (SELECT image_id, CAST(SUM(o) AS BIGINT) AS n
         |       FROM jh GROUP BY 1),
         |jg AS (SELECT r.image_id, r.b0, c.b3, r.rc, c.cc, n.n,
         |         COALESCE(h.o, 0) AS o
         |       FROM jr r JOIN jc c ON c.image_id = r.image_id
         |       JOIN jn n ON n.image_id = r.image_id
         |       LEFT JOIN jh h ON h.image_id = r.image_id
         |         AND h.b0 = r.b0 AND h.b3 = c.b3),
         |jx AS (SELECT image_id, b0, b3,
         |         ((n*o - rc*cc)*(n*o - rc*cc)*1000) // (n*rc*cc)
         |           AS contrib
         |       FROM jg)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST((COUNT(DISTINCT b0) - 1)
         |     * (COUNT(DISTINCT b3) - 1) AS BIGINT) AS dof,
         |  CAST(SUM(contrib) AS BIGINT) AS chi2_scaled
         |FROM jx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // count-min sketch over corpus tokens with md5-derived row
    // hashes: top-5 true terms vs their overestimate-only estimates
    Gate("q_cms_topk", (s, dir) => {
      val terms = Synth.documents(s, dir)
        .select(explode(graft.text.TextOps.toks).as("term"))
      val sk = graft.sketch.Cms.sketch(terms, col("term"), 4, 64)
      val truth = terms.groupBy("term")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), col("term")).limit(5)
      graft.sketch.Cms.estimate(sk, truth, col("term"), 4, 64)
        .orderBy(desc("true_cnt"), col("term"))
    },
      // CMS rows from disjoint md5 hex pairs (ascii arithmetic);
      // estimate = min over the 4 row counters — overestimate-only
      Some(s"""WITH $TokCte,
         |cmt AS (SELECT unnest(ts) AS term FROM tok),
         |cmh AS (SELECT term, md5(term) AS h FROM cmt),
         |cmr AS (SELECT unnest(generate_series(0, 3)) AS r),
         |cmb AS (SELECT c.term, r.r,
         |          ((CASE WHEN ascii(substr(c.h, CAST(2*r.r+1 AS INT), 1)) <= 57
         |                 THEN ascii(substr(c.h, CAST(2*r.r+1 AS INT), 1)) - 48
         |                 ELSE ascii(substr(c.h, CAST(2*r.r+1 AS INT), 1)) - 87 END) * 16
         |           + (CASE WHEN ascii(substr(c.h, CAST(2*r.r+2 AS INT), 1)) <= 57
         |                   THEN ascii(substr(c.h, CAST(2*r.r+2 AS INT), 1)) - 48
         |                   ELSE ascii(substr(c.h, CAST(2*r.r+2 AS INT), 1)) - 87 END)) % 64
         |            AS b
         |        FROM cmh c CROSS JOIN cmr r),
         |cms2 AS (SELECT r, b, COUNT(*) AS cnt FROM cmb GROUP BY 1, 2),
         |ctr AS (SELECT term, COUNT(*) AS true_cnt FROM cmt GROUP BY 1
         |        ORDER BY true_cnt DESC, term LIMIT 5),
         |cqb AS (SELECT DISTINCT b2.term, b2.r, b2.b
         |        FROM cmb b2 JOIN ctr t2 ON t2.term = b2.term),
         |cest AS (SELECT q.term, MIN(s.cnt) AS cms_est
         |         FROM cqb q JOIN cms2 s ON s.r = q.r AND s.b = q.b
         |         GROUP BY 1)
         |SELECT t3.term, CAST(t3.true_cnt AS BIGINT) AS true_cnt,
         |  CAST(e.cms_est AS BIGINT) AS cms_est
         |FROM ctr t3 JOIN cest e ON e.term = t3.term
         |ORDER BY true_cnt DESC, t3.term""".stripMargin)),

    // KMV distinct sketch per source: k-th smallest distinct md5 —
    // bounded mergeable state, map-side partial aggregation
    Gate("q_kmv_distinct", (s, dir) => {
      val kmv = udaf(new graft.text.KmvSketch(8),
        org.apache.spark.sql.Encoders.STRING)
      Synth.documents(s, dir).select(col("source"), md5(col("text")).as("h"))
        .distinct()
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"), kmv(col("h")).as("kth_hash"))
        .where(col("kth_hash").isNotNull)
        .orderBy("source")
    },
      // KMV: k-th smallest distinct md5 per source (k = 8) + exact
      // distinct count; md5 hex order == numeric order in both engines
      Some(s"""WITH dh AS (SELECT DISTINCT source, md5(text) AS h
         |            FROM documents),
         |rk AS (SELECT source, h,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |       FROM dh),
         |nd AS (SELECT source, COUNT(*) AS n_distinct FROM dh GROUP BY 1)
         |SELECT n.source, CAST(n.n_distinct AS BIGINT) AS n_distinct,
         |  r.h AS kth_hash
         |FROM nd n JOIN rk r ON r.source = n.source AND r.rn = 8
         |ORDER BY 1""".stripMargin)),

    // frequent-itemset mining (a-priori L1+L2 as one level): baskets
    // = (user, hour), items = event_type#(props.k div 50); pairs
    // with support >= 10 — within-basket self-join (constant fanout,
    // bounded by the item vocabulary), map-side-combined pair counts
    Gate("q_itemsets", (s, dir) =>
      graft.ops.Itemsets.frequentPairs(
          Synth.events(s, dir), 10L)
        .orderBy("item_a", "item_b"),
      // frequent-pair ground truth: distinct (user, hour, item) baskets
      // with item = type#(k div 50), within-basket self-join, HAVING on
      // the support threshold
      Some("""WITH itb AS (SELECT DISTINCT user_id,
        |         CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS hr,
        |         event_type || '#' ||
        |           CAST(CAST(substr(props, 7, length(props)-7) AS INT)
        |             // 50 AS VARCHAR) AS item
        |       FROM events)
        |SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM itb a JOIN itb b
        |  ON a.user_id = b.user_id AND a.hr = b.hr AND a.item < b.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= 10
        |ORDER BY 1, 2""".stripMargin)),

    // association rules (a-priori level 2 → rules): both directions
    // per frequent pair, exact scaled confidence + lift, minConf cut;
    // the rule stage is vocabulary²-bounded, item counts broadcast
    Gate("q_assoc_rules", (s, dir) =>
      graft.ops.Itemsets.rules(
          Synth.events(s, dir), 10L, 10000L)
        .orderBy("ante", "cons"),
      // association-rule replay: same basket CTE, both rule directions,
      // exact integer confidence/lift with the same floor divisions
      Some("""WITH arb AS (SELECT DISTINCT user_id,
        |         CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS hr,
        |         event_type || '#' ||
        |           CAST(CAST(substr(props, 7, length(props)-7) AS INT)
        |             // 50 AS VARCHAR) AS item
        |       FROM events),
        |arp AS (SELECT a.item AS item_a, b.item AS item_b,
        |          CAST(COUNT(*) AS BIGINT) AS support
        |        FROM arb a JOIN arb b
        |          ON a.user_id = b.user_id AND a.hr = b.hr
        |          AND a.item < b.item
        |        GROUP BY 1, 2 HAVING COUNT(*) >= 10),
        |ari AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM arb GROUP BY 1),
        |arn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        |          (SELECT DISTINCT user_id, hr FROM arb)),
        |ard AS (SELECT item_a AS ante, item_b AS cons, support FROM arp
        |        UNION ALL SELECT item_b, item_a, support FROM arp)
        |SELECT d.ante, d.cons, d.support,
        |  CAST((d.support * 1000000) // ca.c AS BIGINT) AS conf_scaled,
        |  CAST((d.support * n.n * 1000000) // (ca.c * cb.c) AS BIGINT)
        |    AS lift_scaled
        |FROM ard d JOIN ari ca ON ca.item = d.ante
        |JOIN ari cb ON cb.item = d.cons, arn n
        |WHERE (d.support * 1000000) // ca.c >= 10000
        |ORDER BY ante, cons""".stripMargin)),

    // per-user hourly gap-fill: bucket events by hour, generate the
    // DENSE hour series per user, carry the last seen event_type
    // forward across empty hours (ignore-nulls last over the ordered
    // window) — the telemetry resample/ffill pattern
    Gate("q_events_gapfill", (s, dir) => {
      val ev = Synth.events(s, dir)
        .where(col("user_id") < 40)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hr"),
          col("ts"), col("event_id"), col("event_type"))
      val hourly = ev.groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("et"))
      val dense = hourly.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .withColumn("hr", explode(sequence(col("h0"), col("h1"))))
        .select("user_id", "hr")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("hr")
      dense.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          last(col("et"), ignoreNulls = true).over(w).as("etype_filled"))
        .orderBy("user_id", "hr")
    },
      // hour = floor(epoch/3600) (sub-second truncation can never cross
      // an hour boundary); latest-in-hour via arg_max on (ts, event_id);
      // dense hours via generate_series; ffill = last_value IGNORE NULLS
      Some("""WITH gev AS (SELECT user_id,
        |         CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS hr,
        |         ts, event_id, event_type
        |       FROM events WHERE user_id < 40),
        |ghr AS (SELECT user_id, hr, COUNT(*) AS n,
        |          (MAX(struct_pack(ts := ts, eid := event_id,
        |            et := event_type))).et AS et
        |        FROM gev GROUP BY 1, 2),
        |gsp AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1
        |        FROM ghr GROUP BY 1),
        |gdn AS (SELECT s.user_id, u.hr
        |        FROM gsp s CROSS JOIN LATERAL (SELECT
        |          unnest(generate_series(s.h0, s.h1)) AS hr) u)
        |SELECT d.user_id, d.hr,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
        |  LAST_VALUE(h.et IGNORE NULLS) OVER (PARTITION BY d.user_id
        |    ORDER BY d.hr) AS etype_filled
        |FROM gdn d LEFT JOIN ghr h ON h.user_id = d.user_id
        |  AND h.hr = d.hr
        |ORDER BY d.user_id, d.hr""".stripMargin)),

    // metadata get/set: dataset-level + band-level (band/key flattened)
    Gate("q_metadata", (s, dir) => {
      val withMeta = Bands.setMeta(Synth.images(s, dir), Map(
        "sensor" -> col("fmt"),
        "pixels" -> (col("w") * col("h")).cast("string")))
      val withBand = Bands.setBandMeta(withMeta, "red", Map(
        "wavelength_nm" -> lit("650"),
        "stripe_px" -> col("nw").cast("string")))
      withBand.select(col("image_id"),
          explode(map_concat(col("meta"), col("bandmeta"))).as(Seq("key", "value")))
        .orderBy("image_id", "key")
    },
      Some(s"""WITH $I,
         |kv AS (
         |  SELECT image_id, 'sensor' AS key, fmt AS value FROM img2
         |  UNION ALL SELECT image_id, 'pixels', CAST(w*h AS VARCHAR) FROM img2
         |  UNION ALL SELECT image_id, 'red/wavelength_nm', '650' FROM img2
         |  UNION ALL SELECT image_id, 'red/stripe_px', CAST(nw AS VARCHAR)
         |    FROM img2)
         |SELECT image_id, key, value FROM kv
         |ORDER BY image_id, key""".stripMargin)),

    // WebDataset-style shard packing: md5 writer buckets, per-writer
    // greedy first-fit into 64 KiB shards in image_id order; offset =
    // byte position inside the shard (the tar index). Also implicitly
    // value-checks payload byte sizes: the oracle recomputes nbytes
    // from (fmt, w, h) while Spark measures the real encoded payload
    Gate("q_pack_shards", (s, dir) =>
      graft.ops.Sharding.packShards(
          Synth.imagesWithBytes(s, dir, Synth.smallRaw), 65536L, 2)
        .orderBy("image_id"),
      // greedy first-fit replayed as a per-writer recursive chain over
      // row_number; nbytes from the raw-codec layout (6 bands × 2/4 B)
      Some(s"""WITH RECURSIVE $I, $SimgCte,
         |sized AS (SELECT image_id,
         |    CAST(CASE fmt WHEN 'raw-i16le' THEN 12*w*h
         |                  ELSE 24*w*h END AS BIGINT) AS nbytes,
         |    ${Md5BucketSql("image_id")} % 2 AS writer
         |  FROM simg),
         |it AS (SELECT image_id, nbytes, writer,
         |    ROW_NUMBER() OVER (PARTITION BY writer ORDER BY image_id)
         |      AS rn FROM sized),
         |rec AS (
         |  SELECT image_id, nbytes, writer, rn,
         |    CAST(0 AS BIGINT) AS shard, CAST(0 AS BIGINT) AS off,
         |    nbytes AS used
         |  FROM it WHERE rn = 1
         |  UNION ALL
         |  SELECT i.image_id, i.nbytes, i.writer, i.rn,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.shard
         |         ELSE r.shard + 1 END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used
         |         ELSE CAST(0 AS BIGINT) END,
         |    CASE WHEN r.used + i.nbytes <= 65536 THEN r.used + i.nbytes
         |         ELSE i.nbytes END
         |  FROM rec r JOIN it i ON i.writer = r.writer AND i.rn = r.rn + 1)
         |SELECT image_id, writer, nbytes, shard, off AS offset
         |FROM rec ORDER BY image_id""".stripMargin)),

    // HLL distinct-count sketch over the token stream: the register
    // table is engine-portable (md5 bucket + leading-zero rho), pinned
    // by three exact-integer aggregates next to the true distinct
    Gate("q_hll_distinct", (s, dir) => {
      import graft.sketch.Hll
      val terms = Synth.documents(s, dir)
        .select(explode(graft.text.TextOps.toks).as("term"))
      Hll.summary(Hll.sketch(terms, col("term")))
        .crossJoin(terms.agg(
          countDistinct(col("term")).cast("long").as("exact_distinct")))
    },
      // full HLL register pipeline replayed: md5 bucket (first 2 hex
      // chars), rho = 1 + leading-zero bits of the next 48, per-register
      // MAX, then the three exact-integer invariants + true distinct
      Some(s"""WITH $TokCte,
         |tv AS (SELECT unnest(ts) AS term FROM tok),
         |hh AS (SELECT md5(term) AS hx FROM tv),
         |r0 AS (SELECT
         |    (instr('0123456789abcdef', substring(hx, 1, 1))-1)*16 +
         |    (instr('0123456789abcdef', substring(hx, 2, 1))-1)
         |      AS register,
         |    substring(hx, 3, 12) AS tail FROM hh),
         |r1 AS (SELECT register,
         |    length(regexp_extract(tail, '^0*')) AS z, tail FROM r0),
         |r2 AS (SELECT register, z,
         |    instr('0123456789abcdef', substring(tail, z + 1, 1)) - 1
         |      AS v FROM r1),
         |r3 AS (SELECT register, CASE WHEN z = 12 THEN 49
         |    ELSE z*4 + (CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
         |                     WHEN v >= 2 THEN 2 ELSE 3 END) + 1 END
         |      AS rho FROM r2),
         |sk AS (SELECT register, MAX(rho) AS rho FROM r3 GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_nonempty,
         |  CAST(SUM(CAST(1 AS BIGINT) << CAST(50 - rho AS INT)) +
         |    (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 50) AS BIGINT)
         |    AS harmonic_num,
         |  CAST(SUM((register + 1) * rho) AS BIGINT) AS reg_checksum,
         |  (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) FROM tv)
         |    AS exact_distinct
         |FROM sk""".stripMargin)),

    // data validation ("expectations"): per-rule violation counts
    // over a deterministically corrupted corpus (every doc_id%50==0
    // doc re-appears with n_chars+1 and lang 'xx' → known non-zero
    // counts for three of the four rules)
    Gate("q_validate", (s, dir) => {
      val d = Synth.documents(s, dir)
      val mut = d.where(col("doc_id") % 50 === 0)
        .withColumn("n_chars", col("n_chars") + 1)
        .withColumn("lang", lit("xx"))
      graft.text.TextOps.validate(d.unionByName(mut),
          Seq("en", "de", "es", "fr", "zh"))
        .orderBy("rule")
    },
      // the same corrupted union replayed; each rule is one aggregate
      Some(s"""WITH u AS (
         |  SELECT doc_id, lang, n_chars, text FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars, text
         |  FROM documents WHERE doc_id % 50 = 0),
         |v AS (
         |  SELECT 'bad_n_chars' AS rule, CAST(SUM(CASE WHEN
         |      n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS violations FROM u
         |  UNION ALL
         |  SELECT 'bad_lang', CAST(SUM(CASE WHEN lang NOT IN
         |      ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM u
         |  UNION ALL
         |  SELECT 'empty_text', CAST(SUM(CASE WHEN text IS NULL OR
         |      length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM u
         |  UNION ALL
         |  SELECT 'dup_doc_ids', CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
         |  FROM (SELECT doc_id, COUNT(*) AS c FROM u GROUP BY 1))
         |SELECT rule, violations FROM v ORDER BY rule""".stripMargin)),

    // deterministic epoch shuffle: reproducible per-epoch (shard, pos)
    // training order, sharded row_number (no global sort)
    Gate("q_epoch_shuffle", (s, dir) =>
      graft.text.TextOps.epochShuffle(Synth.documents(s, dir), epoch = 2, nShards = 4)
        .orderBy("doc_id"),
      // per-shard rank over the md5(doc_id:epoch) sort key — the
      // epoch-2 permutation replayed with window row_number
      Some(s"""WITH b AS (SELECT doc_id,
         |  md5(CAST(doc_id AS VARCHAR) || ':2') AS sort_key,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':2'")} % 4 AS shard
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY sort_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- events (window / sessionization) ----
    Gate("q_events_top", (s, dir) => {
      val ev = Synth.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id")
    },
      Some("""WITH r AS (SELECT user_id, event_id, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS rn FROM events)
        |SELECT user_id, event_id, value FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin)),

    Gate("q_events_sessions", (s, dir) => {
      val ev = Synth.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      ev.withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("flag",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("flag")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id,
        |  CASE WHEN LAG(us) OVER (PARTITION BY user_id
        |         ORDER BY us, event_id) IS NULL THEN 1
        |       WHEN us - LAG(us) OVER (PARTITION BY user_id
        |         ORDER BY us, event_id) > 1800000000 THEN 1
        |       ELSE 0 END AS flag
        |  FROM e)
        |SELECT user_id, CAST(SUM(flag) AS BIGINT) AS n_sessions,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // as-of join: every click attributed to the user's most recent
    // prior-or-equal view (single window pass, no join — ops.TimeJoins)
    // funnel: view → click → purchase with a 1-day per-step gap;
    // greedy-earliest matching (optimal under per-step gaps)
    Gate("q_events_funnel", (s, dir) =>
      graft.ops.TimeJoins.funnel(Synth.events(s, dir),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), 86400000000L)
        .orderBy("user_id"),
      // greedy-earliest per-step funnel chain replayed stage by stage
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + 86400000000 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    // cohort retention matrix: cohort = first-activity day per user,
    // distinct active users per (cohort, day offset) — exact integer
    // day math on UTC-pinned dates
    Gate("q_events_cohorts", (s, dir) =>
      graft.ops.TimeJoins.cohortRetention(
          Synth.events(s, dir), "user_id", "ts")
        .select(col("cohort").cast("string").as("cohort"),
          col("day_offset"), col("users"))
        .orderBy("cohort", "day_offset"),
      // cohort = per-user MIN day; offsets are exact date subtraction
      Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY 1)
        |SELECT CAST(f.cohort AS VARCHAR) AS cohort,
        |       CAST(e.d - f.cohort AS BIGINT) AS day_offset,
        |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Gate("q_events_asof", (s, dir) => {
      val ev = Synth.events(s, dir)
      // collapse equal-(user, ts) rights to max id: makes the as-of
      // target unique, mirroring the oracle's pre-aggregation
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      val clicks = ev.where(col("event_type") === "click")
      graft.ops.TimeJoins.asofJoin(clicks, views, "user_id", "ts",
          "event_id", "view_id")
        .select(col("l_id").as("click_id"), col("user_id"),
          col("asof_id").as("view_id"))
        .orderBy("click_id")
    },
      // DuckDB's native ASOF JOIN is the ground truth for the windowed
      // as-of implementation (greatest v.ts <= c.ts per user)
      Some("""WITH v AS (SELECT user_id, ts, CAST(MAX(event_id) AS BIGINT)
        |             AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click')
        |SELECT CAST(c.event_id AS BIGINT) AS click_id, c.user_id,
        |       v.view_id
        |FROM c ASOF JOIN v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY click_id""".stripMargin)),

    // bounded range join: errors within 1 h AFTER a click, same user
    // (1-D covering-bucket equi-join — the time analog of the spatial
    // covering-cell join; no cross join, no distinct)
    Gate("q_events_range", (s, dir) => {
      val ev = Synth.events(s, dir)
      graft.ops.TimeJoins.rangeJoin(
          ev.where(col("event_type") === "click"),
          ev.where(col("event_type") === "error"),
          "user_id", "ts", "event_id", "event_id", maxGapSec = 3600L)
        .select(col("l_id").as("click_id"), col("r_id").as("err_id"))
        .orderBy("click_id", "err_id")
    },
      // plain theta join is the ground truth for the bucketed range join
      Some("""WITH c AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error')
        |SELECT CAST(c.event_id AS BIGINT) AS click_id,
        |       CAST(e.event_id AS BIGINT) AS err_id
        |FROM c JOIN e ON c.user_id = e.user_id
        | AND e.ts >= c.ts
        | AND epoch_us(e.ts) - epoch_us(c.ts) <= 3600000000
        |ORDER BY click_id, err_id""".stripMargin)),

    // ---- relational baseline (lineitem/orders) ----
    Gate("q_tpch_pricing", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(floor(col("l_extendedprice")).cast("long")).as("sum_price_fl"),
          avg(col("l_quantity")).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      Some("""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
        |    AS sum_price_fl,
        |  SUM(l_quantity) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Gate("q_tpch_join", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
  )
}
