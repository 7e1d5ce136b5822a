package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.gen.OracleCte.{D8Cte, DemCte, MannKendallCte, SimgCte,
  TrendValue, bandParams => B, images => I, polygons => P}

/** The terrain gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object TerrainGates {


  /** D8 steepest-descent edges and every cell's walk down them to its
    * pit (WITH RECURSIVE; requires demp and d8): aedge(k, x, y, tx, ty),
    * walk(k, x, y, cx, cy). */
  private val FlowWalkCte =
    """acand AS (SELECT c.k, c.x, c.y,
      |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
      |          FROM demp c JOIN d8 d ON TRUE
      |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
      |            AND n.y = c.y + d.dy
      |          GROUP BY 1, 2, 3),
      |aedge AS (SELECT c.k, c.x, c.y,
      |            c.x + d.dx AS tx, c.y + d.dy AS ty
      |          FROM acand c JOIN d8 d ON d.code = c.key % 16
      |          WHERE 2048 - c.key//16 > 0),
      |walk AS (
      |  SELECT g.k, g.x, g.y, g.x AS cx, g.y AS cy FROM demp g
      |  UNION ALL
      |  SELECT w2.k, w2.x, w2.y, e.tx, e.ty
      |  FROM walk w2 JOIN aedge e ON e.k = w2.k AND e.x = w2.cx
      |    AND e.y = w2.cy)""".stripMargin

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // Hamilton–Jacobi FLUX skeleton (Pixels.skeletonizeFlux): the flux
    // field has no SQL form, so this gate is an INVARIANT oracle — per
    // image the skeleton must be a subset of the mask (subset_viol 0),
    // preserve the 8-connected component count (comp_skel == comp_mask;
    // the n>r half-plane mask has sign(n_mask) components, which the
    // oracle states in closed form), and n_mask is replayed per-pixel.
    // All exact integers; a violated invariant is a value mismatch,
    // not a rows-only pass.
    Gate("q_skeleton_flux", (s, dir) => {
      val sk = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Pixels
        val mask = Synth.vegMask(bytes, w, h, fmt)
        val sf = Pixels.skeletonizeFlux(mask, w, h)
        def comps(p: Array[Double]): Long = {
          val fg = p.map(_ == 1.0)
          val lab = Pixels.labelComponents(fg, w, h)
          val roots = scala.collection.mutable.HashSet[Int]()
          var i = 0
          while (i < p.length) { if (fg(i)) roots += lab(i); i += 1 }
          roots.size.toLong
        }
        val subsetViol = (0 until w * h)
          .count(i => sf(i) == 1.0 && mask(i) != 1.0).toLong
        (mask.count(_ == 1.0).toLong, comps(mask), comps(sf), subsetViol)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("sk", sk(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("sk._1").as("n_mask"),
          col("sk._2").as("comp_mask"), col("sk._3").as("comp_skel"),
          col("sk._4").as("subset_viol"))
        .orderBy("image_id")
    },
      // flux-skeleton invariant oracle: n_mask replayed per-pixel; the
      // n>r half-plane ∩ valid-rect mask is CONVEX, so its 8-connected
      // component count is sign(n_mask) — topology preservation and the
      // subset property become closed-form columns (engine violations
      // surface as value mismatches)
      Some(s"""WITH $I, $B, $SimgCte,
         |mfx AS (
         |  SELECT s.image_id,
         |    CAST(COUNT(*) FILTER (WHERE
         |      p3.base + p3.ax*xs.x + p3.ay*ys.y
         |      > p2.base + p2.ax*xs.x + p2.ay*ys.y) AS BIGINT) AS n_mask
         |  FROM simg s
         |  JOIN bandp p2 ON p2.k = s.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = s.k AND p3.b = 3
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys
         |  WHERE xs.x >= s.nw
         |  GROUP BY s.image_id)
         |SELECT image_id, n_mask,
         |  CAST(CASE WHEN n_mask > 0 THEN 1 ELSE 0 END AS BIGINT) AS comp_mask,
         |  CAST(CASE WHEN n_mask > 0 THEN 1 ELSE 0 END AS BIGINT) AS comp_skel,
         |  CAST(0 AS BIGINT) AS subset_viol
         |FROM mfx ORDER BY image_id""".stripMargin)),

    // ---- terrain & time-series pack over the quadratic-mod DEM band
    // (Synth.demImages — the linear ramps have constant gradient, so
    // terrain ops on them are degenerate). All integer / single-IEEE
    // math; oracles replay the surfaces with generate_series. ----
    // Horn-kernel slope (Horn 1981, the gdaldem convention): interior
    // pixels, dzdx/dzdy as integer stencils, slope = sqrt of exact
    // power-of-two-scaled squares
    Gate("q_dem_slope", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("sl", graft.ops.Terrain.slopeAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("sl._1").as("n_int"),
          col("sl._2").as("adx_sum"), col("sl._3").as("ady_sum"),
          col("sl._4").as("slope_fsum"))
        .orderBy("image_id"),
      // Horn stencil stated multiplicatively: dzdx = Σ z·dx·(2−|dy|),
      // dzdy = Σ z·dy·(2−|dx|) over the 3×3 window; /32.0 is a
      // power-of-two divide so gx/gy and their squares are exact, and
      // sqrt / ×1e6 are one correctly-rounded IEEE op each
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |soff AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |              (SELECT unnest([-1,0,1]) AS dy) b),
         |sg AS (SELECT d.k, d.image_id, d.x, d.y,
         |         SUM(n.z * o.dx * (2-abs(o.dy))) AS dzdx,
         |         SUM(n.z * o.dy * (2-abs(o.dx))) AS dzdy
         |       FROM demp d JOIN soff o ON TRUE
         |       JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |         AND n.y = d.y + o.dy
         |       WHERE d.x >= 1 AND d.x <= d.w-2
         |         AND d.y >= 1 AND d.y <= d.h-2
         |       GROUP BY 1, 2, 3, 4)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(abs(dzdx)) AS BIGINT) AS adx_sum,
         |  CAST(SUM(abs(dzdy)) AS BIGINT) AS ady_sum,
         |  CAST(SUM(CAST(FLOOR(sqrt((dzdx/32.0)*(dzdx/32.0)
         |    + (dzdy/32.0)*(dzdy/32.0)) * 1e6) AS BIGINT)) AS BIGINT)
         |    AS slope_fsum
         |FROM sg GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // hillshade (Horn normals, gdaldem-default sun az 315° alt 45°):
    // shade = max(0, n·s); the 315/45 sun vector is exact halves plus
    // one correctly-rounded sqrt, so the whole pixel formula is a
    // fixed sequence of identical IEEE roundings in both engines
    Gate("q_hillshade", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("hs", graft.ops.Terrain.hillshadeAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("hs._1").as("n_int"),
          col("hs._2").as("shade_fsum"), col("hs._3").as("n_shadow"))
        .orderBy("image_id"),
      // same Horn stencil as q_dem_slope; shade = (gx/2 − gy/2 + √2/2)
      // / sqrt(1 + gx² + gy²) with gx/gy exact multiples of 1/32 —
      // every op is one identically-rounded IEEE step in both engines
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |hoff AS (SELECT a.dx, b.dy
         |         FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |              (SELECT unnest([-1,0,1]) AS dy) b),
         |hg AS (SELECT d.k, d.image_id, d.x, d.y,
         |         SUM(n.z * o.dx * (2-abs(o.dy))) AS dzdx,
         |         SUM(n.z * o.dy * (2-abs(o.dx))) AS dzdy
         |       FROM demp d JOIN hoff o ON TRUE
         |       JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |         AND n.y = d.y + o.dy
         |       WHERE d.x >= 1 AND d.x <= d.w-2
         |         AND d.y >= 1 AND d.y <= d.h-2
         |       GROUP BY 1, 2, 3, 4),
         |hs AS (SELECT image_id,
         |         ((dzdx/32.0)/2 - (dzdy/32.0)/2 + sqrt(2.0)/2) /
         |         sqrt(1.0 + ((dzdx/32.0)*(dzdx/32.0)
         |           + (dzdy/32.0)*(dzdy/32.0))) AS shade
         |       FROM hg)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(CASE WHEN shade > 0
         |    THEN CAST(FLOOR(shade * 1e6) AS BIGINT) ELSE 0 END)
         |    AS BIGINT) AS shade_fsum,
         |  CAST(SUM(CASE WHEN shade <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shadow
         |FROM hs GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // D8 flow direction histogram: steepest-positive-drop neighbor
    // (ties → lowest code, pits → −1), stated as an integer argmin
    // the oracle replays with the same key encoding
    Gate("q_flow_d8", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("dc", explode(graft.ops.Terrain.flowDirCounts(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("dc._1").cast("long").as("dir"),
          col("dc._2").as("cnt"))
        .orderBy("image_id", "dir"),
      // integer argmin key (2048 − drop)·16 + code: minimizing it picks
      // the steepest positive drop with lowest-code ties; key//16
      // recovers the drop for the pit test — the exact encoding the
      // engine kernel uses
      Some(s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |fcand AS (SELECT c.k, c.image_id, c.x, c.y,
         |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
         |          FROM demp c JOIN d8 d ON TRUE
         |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |            AND n.y = c.y + d.dy
         |          GROUP BY 1, 2, 3, 4),
         |fdir AS (SELECT image_id,
         |           CASE WHEN 2048 - key//16 <= 0 THEN -1
         |                ELSE key%16 END AS dir
         |         FROM fcand)
         |SELECT image_id, CAST(dir AS BIGINT) AS dir,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM fdir GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TRI (Σ|z_c − z_n| over 8 neighbors, ×8 unscaled) + roughness
    // (3×3 max − min) per interior pixel — the remaining gdaldem
    // products, exact integers
    Gate("q_tri_rough", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("tr", graft.ops.Terrain.triRoughAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("tr._1").as("n_int"),
          col("tr._2").as("tri_sum"), col("tr._3").as("tri_max"),
          col("tr._4").as("rough_sum"), col("tr._5").as("rough_max"))
        .orderBy("image_id"),
      // TRI = Σ|z_c − z_n| over the 8-neighborhood, roughness = 3×3
      // max − min; interior pixels, pure integers
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |troff AS (SELECT a.dx, b.dy
         |          FROM (SELECT unnest([-1,0,1]) AS dx) a,
         |               (SELECT unnest([-1,0,1]) AS dy) b
         |          WHERE a.dx <> 0 OR b.dy <> 0),
         |trp AS (SELECT d.k, d.image_id, d.x, d.y,
         |          SUM(ABS(d.z - n.z)) AS tri,
         |          GREATEST(MAX(n.z), d.z) - LEAST(MIN(n.z), d.z)
         |            AS rough
         |        FROM demp d JOIN troff o ON TRUE
         |        JOIN demp n ON n.k = d.k AND n.x = d.x + o.dx
         |          AND n.y = d.y + o.dy
         |        WHERE d.x >= 1 AND d.x <= d.w-2
         |          AND d.y >= 1 AND d.y <= d.h-2
         |        GROUP BY 1, 2, 3, 4, d.z)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(tri) AS BIGINT) AS tri_sum,
         |  CAST(MAX(tri) AS BIGINT) AS tri_max,
         |  CAST(SUM(rough) AS BIGINT) AS rough_sum,
         |  CAST(MAX(rough) AS BIGINT) AS rough_max
         |FROM trp GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // Strahler stream order over the D8 flow forest: one topological
    // pass per image (corpus-parallel), per-order cell histogram;
    // oracle = monotone fixpoint scatter-CTE, 48-round bound
    Gate("q_strahler", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("sc", explode(graft.ops.Terrain.strahlerCounts(
          col("dem_bytes"), col("w").cast("int"), col("h").cast("int"))))
        .select(col("image_id"), col("sc._1").cast("long").as("ord"),
          col("sc._2").as("n_cells"))
        .orderBy("image_id", "ord"),
      // Strahler fixpoint: all cells start at order 1; each round every
      // cell re-derives ord from its upstream orders (max, +1 on a >=2
      // tie at the max, found via lexicographic struct MAX over
      // per-value counts). Monotone from below, never overshoots,
      // converges within the flow-DAG depth (measured <= 41; bound 48)
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |shcand AS (SELECT c.k, c.x, c.y,
         |            MIN((2048 - (c.z - n.z))*16 + d.code) AS key
         |          FROM demp c JOIN d8 d ON TRUE
         |          JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |            AND n.y = c.y + d.dy
         |          GROUP BY 1, 2, 3),
         |shedge AS (SELECT c.k, c.x, c.y,
         |            c.x + d.dx AS tx, c.y + d.dy AS ty
         |          FROM shcand c JOIN d8 d ON d.code = c.key % 16
         |          WHERE 2048 - c.key//16 > 0),
         |shed2 AS (SELECT k, x, y, tx, ty, FALSE AS self FROM shedge
         |          UNION ALL
         |          SELECT k, x, y, x, y, TRUE FROM demp),
         |shfix(k, x, y, ord, it) AS (
         |  SELECT k, x, y, CAST(1 AS BIGINT), 0 FROM demp
         |  UNION ALL
         |  SELECT g.k, g.x, g.y,
         |    CASE WHEN (g.ms).v = 0 THEN 1
         |      ELSE (g.ms).v + CASE WHEN (g.ms).c >= 2 THEN 1
         |        ELSE 0 END END,
         |    g.it + 1
         |  FROM (
         |    SELECT cg.k, cg.x, cg.y, cg.it,
         |      MAX(struct_pack(v := cg.v, c := cg.cnt)) AS ms
         |    FROM (
         |      SELECT t.k, e.tx AS x, e.ty AS y, t.it,
         |        CASE WHEN e.self THEN 0 ELSE t.ord END AS v,
         |        COUNT(*) AS cnt
         |      FROM shfix t JOIN shed2 e
         |        ON e.k = t.k AND e.x = t.x AND e.y = t.y
         |      WHERE t.it < 48
         |      GROUP BY 1, 2, 3, 4, 5) cg
         |    GROUP BY 1, 2, 3, 4) g),
         |shfin AS (SELECT k, x, y, ord FROM shfix WHERE it = 48)
         |SELECT s.image_id, CAST(f.ord AS BIGINT) AS ord,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells
         |FROM shfin f JOIN simg s ON s.k = f.k
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // D8 flow accumulation (upstream cell count): one forward pass
    // over each image's D8 topological order, map-only. The oracle
    // walks every cell's flow path with a recursive CTE and counts
    // visits.
    Gate("q_flow_accum", (s, dir) =>
      graft.ops.Terrain.flowAccum(Synth.demImages(s, dir, Synth.smallRaw))
        .groupBy("image_id")
        .agg(count(lit(1)).as("n_px"), sum("acc").as("acc_sum"),
          max("acc").as("acc_max"),
          sum(col("acc") * col("acc")).as("acc_sq_sum"))
        .orderBy("image_id"),
      // every cell's flow path walked to its pit (strictly-decreasing z
      // ⇒ a DAG ⇒ the recursion terminates); acc(c) = visits of c
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |$FlowWalkCte,
         |aacc AS (SELECT k, cx AS x, cy AS y, COUNT(*) AS acc
         |         FROM walk GROUP BY 1, 2, 3)
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(a.acc) AS BIGINT) AS acc_sum,
         |  CAST(MAX(a.acc) AS BIGINT) AS acc_max,
         |  CAST(SUM(a.acc*a.acc) AS BIGINT) AS acc_sq_sum
         |FROM aacc a JOIN simg s ON s.k = a.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // accumulated-cost surface (decode-once per-image Dijkstra)
    // from z%19==0 seed cells under the (2,3)-chamfer
    // metric over cost 1+z%2: per image the source/reached census
    // plus exact-integer distance checksums
    Gate("q_cost_distance", (s, dir) =>
      graft.ops.Terrain.costDistance(Synth.demImages(s, dir, Synth.smallRaw))
        .groupBy("image_id")
        .agg(sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_src"),
          count(lit(1)).as("n_reached"),
          sum(col("dist")).as("dist_sum"),
          max(col("dist")).as("dist_max"),
          sum(col("dist") * col("dist")).as("dist_sq_sum"))
        .orderBy("image_id"),
      // min-plus scatter flood of the chamfer cost distance: each round
      // re-emits every reached cell with MIN(stay, neighbor + step);
      // the bound (96) exceeds the longest optimal path's hop count on
      // these rasters — extra rounds are no-ops once converged
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte,
         |cdo(dx, dy, wm) AS (VALUES (0,0,0),(1,0,2),(0,1,2),(-1,0,2),
         |  (0,-1,2),(1,1,3),(1,-1,3),(-1,1,3),(-1,-1,3)),
         |cdl AS (SELECT k, x, y, 1 + z % 2 AS c, z % 19 = 0 AS src
         |        FROM demp),
         |cdf(k, x, y, c, dist, it) AS (
         |  SELECT k, x, y, c, CAST(0 AS BIGINT), 0 FROM cdl WHERE src
         |  UNION ALL
         |  SELECT u.k, u.x, u.y, u.c, u.dist, u.it + 1 FROM (
         |    SELECT t.k, t.x + o.dx AS x, t.y + o.dy AS y, m.c AS c,
         |      MIN(t.dist + CASE WHEN o.wm = 0 THEN 0
         |          ELSE o.wm * (t.c + m.c) END) AS dist,
         |      MAX(t.it) AS it
         |    FROM cdf t JOIN cdo o ON TRUE
         |    JOIN cdl m ON m.k = t.k AND m.x = t.x + o.dx
         |      AND m.y = t.y + o.dy
         |    GROUP BY 1, 2, 3, 4
         |  ) u WHERE u.it < 96),
         |cdr AS (SELECT k, x, y, dist FROM cdf WHERE it = 96),
         |cda AS (SELECT k,
         |    CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_src,
         |    CAST(COUNT(*) AS BIGINT) AS n_reached,
         |    CAST(SUM(dist) AS BIGINT) AS dist_sum,
         |    CAST(MAX(dist) AS BIGINT) AS dist_max,
         |    CAST(SUM(dist*dist) AS BIGINT) AS dist_sq_sum
         |  FROM cdr GROUP BY 1)
         |SELECT s.image_id, a.n_src, a.n_reached, a.dist_sum,
         |  a.dist_max, a.dist_sq_sum
         |FROM cda a JOIN simg s ON s.k = a.k
         |ORDER BY 1""".stripMargin)),

    // TPI (8·z − Σ neighbors, the divide-free integer form) + TRI
    // ruggedness (Σ |z − neighbor|) over the 8-neighborhood
    Gate("q_tpi", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("t", graft.ops.Vision.tpiAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("t._1").as("n_int"),
          col("t._2").as("n_ridge"), col("t._3").as("n_valley"),
          col("t._4").as("tpi_sum"), col("t._5").as("tri_sum"))
        .orderBy("image_id"),
      // tpi8 = 8·z − Σ neighbors (divide-free), tri = Σ |z − neighbor|
      Some(s"""WITH $I, $SimgCte, $DemCte, $D8Cte,
         |tpn AS (SELECT c.k, c.image_id, c.x, c.y,
         |          8*c.z - SUM(n.z) AS tpi, SUM(ABS(c.z - n.z)) AS tri
         |        FROM demp c JOIN d8 d ON TRUE
         |        JOIN demp n ON n.k = c.k AND n.x = c.x + d.dx
         |          AND n.y = c.y + d.dy
         |        WHERE c.x >= 1 AND c.x <= c.w-2
         |          AND c.y >= 1 AND c.y <= c.h-2
         |        GROUP BY c.k, c.image_id, c.x, c.y, c.z)
         |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_int,
         |  CAST(SUM(CASE WHEN tpi > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ridge,
         |  CAST(SUM(CASE WHEN tpi < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_valley,
         |  CAST(SUM(tpi) AS BIGINT) AS tpi_sum,
         |  CAST(SUM(tri) AS BIGINT) AS tri_sum
         |FROM tpn GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // line-of-sight viewshed from cell (0,0), antenna height 2:
    // integer-DDA ray sampling + cross-multiplied slope test — no
    // division, value-exact
    Gate("q_viewshed", (s, dir) =>
      Synth.demImages(s, dir, Synth.smallRaw)
        .withColumn("v", graft.ops.Terrain.viewshedAgg(col("dem_bytes"),
          col("w").cast("int"), col("h").cast("int")))
        .select(col("image_id"), col("v._1").as("n_vis"),
          col("v._2").as("n_blocked"), col("v._3").as("chk"))
        .orderBy("image_id"),
      // integer-DDA sample cell (⌊(2·s·t+m)/(2m)⌋ = round-half-up on the
      // ideal line, all coords ≥ 0) + cross-multiplied slope test — no
      // division anywhere; m=1 targets have no samples (LEFT JOIN)
      Some(s"""WITH $I, $SimgCte, $DemCte,
         |vo AS (SELECT k, z + 2 AS zo FROM demp WHERE x = 0 AND y = 0),
         |vt AS (SELECT d.k, d.image_id, d.x AS tx, d.y AS ty,
         |         d.z AS zt, GREATEST(d.x, d.y) AS m
         |       FROM demp d WHERE NOT (d.x = 0 AND d.y = 0)),
         |vs AS (SELECT t.k, t.tx, t.ty, t.zt, t.m, o.zo, ss.s,
         |         (2*ss.s*t.tx + t.m) // (2*t.m) AS sx,
         |         (2*ss.s*t.ty + t.m) // (2*t.m) AS sy
         |       FROM vt t JOIN vo o ON o.k = t.k
         |       CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
         |         CAST(t.m-1 AS INT))) AS s) ss),
         |vb AS (SELECT v.k, v.tx, v.ty,
         |         BOOL_OR((n.z - v.zo)*v.m > (v.zt - v.zo)*v.s)
         |           AS blocked
         |       FROM vs v JOIN demp n ON n.k = v.k AND n.x = v.sx
         |         AND n.y = v.sy
         |       GROUP BY 1, 2, 3),
         |vr AS (SELECT t.k, t.image_id, t.tx, t.ty,
         |         COALESCE(b.blocked, FALSE) AS blocked
         |       FROM vt t LEFT JOIN vb b ON b.k = t.k AND b.tx = t.tx
         |         AND b.ty = t.ty)
         |SELECT image_id,
         |  CAST(SUM(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_vis,
         |  CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_blocked,
         |  CAST(SUM(CASE WHEN NOT blocked THEN tx + 131*ty ELSE 0 END)
         |    AS BIGINT) AS chk
         |FROM vr GROUP BY image_id ORDER BY image_id""".stripMargin)),

    // zonal temporal trend: the zonal covering-cell join composed
    // with the per-pixel OLS trend kernel — rising/falling cells and
    // the integer numerator sum per polygon zone
    Gate("q_zonal_trend", (s, dir) =>
      graft.ops.Terrain.zonalTrend(
        Synth.demEpochImages(s, dir, 4, Synth.smallRaw),
        Synth.smallRaw(Synth.images(s, dir)),
        Synth.polygons(s, dir))
        .orderBy("fid"),
      // zonal trend: per-pixel OLS numerator (T=4) filtered by pixel
      // centers inside each polygon rect, aggregated per fid
      Some(s"""WITH $I, $P, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 3)) AS t),
         |ttv AS (SELECT s.k, xs.x, ys.y, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |ztn AS (SELECT k, x, y, 4*SUM(t*v) - 6*SUM(v) AS num
         |        FROM ttv GROUP BY 1, 2, 3),
         |zpx AS (SELECT p.fid, t.num
         |        FROM ztn t JOIN img2 i ON i.k = t.k
         |        JOIN poly2 p ON i.x0m + 4*t.x + 2 >= p.px0m
         |          AND i.x0m + 4*t.x + 2 < p.px1m
         |          AND i.y1m - 4*t.y - 2 >= p.py0m
         |          AND i.y1m - 4*t.y - 2 < p.py1m)
         |SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  CAST(SUM(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neg,
         |  CAST(SUM(num) AS BIGINT) AS num_sum
         |FROM zpx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Mann-Kendall trend per 512-cell over daily event counts (the
    // emerging-hotspot space-time-cube statistic): S = sum of
    // pairwise count-comparison signs, exact integers
    Gate("q_mk_trend", (s, dir) => {
      val pts = Synth.eventPoints(s, dir, 150)
        .select(col("px"), col("py"), unix_timestamp(col("ts")).as("t"))
      graft.ops.SpatialJoin.mannKendallCells(pts, 512L, 86400L)
        .orderBy("gi", "gj")
    },
      // Mann-Kendall S per cell: pairwise count-comparison signs over
      // observed daily buckets; LEFT JOIN keeps single-bucket cells
      Some(s"""WITH $MannKendallCte,
         |mkt AS (SELECT gi, gj, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |          CAST(SUM(c) AS BIGINT) AS n_events
         |        FROM mkb GROUP BY 1, 2)
         |SELECT t.gi, t.gj, t.n_buckets, t.n_events,
         |  CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat
         |FROM mkt t LEFT JOIN mks s ON t.gi = s.gi AND t.gj = s.gj
         |ORDER BY 1, 2""".stripMargin)),

    // watershed basins: every cell labeled by its terminal pit in
    // one backward pass over each image's D8 topological order,
    // map-only; per-image basin count / max size / size² checksum
    Gate("q_watershed", (s, dir) =>
      graft.ops.Terrain.watershed(Synth.demImages(s, dir, Synth.smallRaw))
        .groupBy(col("image_id"), col("px"), col("py"))
        .agg(count(lit(1)).as("sz"))
        .groupBy("image_id")
        .agg(count(lit(1)).as("n_basins"), max("sz").as("max_basin"),
          sum(col("sz") * col("sz")).as("basin_sq_sum"))
        .orderBy("image_id"),
      // basin of each cell = the walk row whose cursor has no outgoing
      // edge (the terminal pit); one such row per source cell
      Some(s"""WITH RECURSIVE $I, $SimgCte, $DemCte, $D8Cte,
         |$FlowWalkCte,
         |wterm AS (SELECT w.k, w.cx, w.cy FROM walk w
         |          WHERE NOT EXISTS (SELECT 1 FROM aedge e
         |            WHERE e.k = w.k AND e.x = w.cx AND e.y = w.cy)),
         |wb AS (SELECT k, cx, cy, COUNT(*) AS sz
         |       FROM wterm GROUP BY 1, 2, 3)
         |SELECT s.image_id, CAST(COUNT(*) AS BIGINT) AS n_basins,
         |  CAST(MAX(b.sz) AS BIGINT) AS max_basin,
         |  CAST(SUM(b.sz*b.sz) AS BIGINT) AS basin_sq_sum
         |FROM wb b JOIN simg s ON s.k = b.k
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-pixel OLS trend over a 4-epoch DEM stack: integer slope
    // numerator num = T·Σ(t·v) − Σt·Σv per pixel; per-image rising/
    // falling counts + checksum. The stack arrives as one payload row
    // per epoch (the multi-file time-series model).
    Gate("q_trend", (s, dir) =>
      Synth.demEpochStacks(s, dir, 4)
        .withColumn("tr", graft.ops.Terrain.trendAgg(
          col("w").cast("int"), col("h").cast("int"), col("eps")))
        .select(col("image_id"), col("tr._1").as("n_pos"),
          col("tr._2").as("n_neg"), col("tr._3").as("num_sum"))
        .orderBy("image_id"),
      // per-pixel OLS numerator over the 4-epoch stack: num =
      // 4·Σ(t·v) − 6·Σv (T=4, Σt=6) — all integer
      Some(s"""WITH $I, $SimgCte,
         |tep AS (SELECT unnest(generate_series(0, 3)) AS t),
         |ttv AS (SELECT s.k, s.image_id, xs.x, ys.y, e.t,
         |          $TrendValue
         |        FROM simg s CROSS JOIN tep e
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.w-1 AS INT))) AS x) xs
         |        CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(s.h-1 AS INT))) AS y) ys),
         |tnum AS (SELECT k, image_id, x, y,
         |           4*SUM(t*v) - 6*SUM(v) AS num
         |         FROM ttv GROUP BY 1, 2, 3, 4)
         |SELECT image_id,
         |  CAST(SUM(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(SUM(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |  CAST(SUM(num) AS BIGINT) AS num_sum
         |FROM tnum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // exact squared-EUCLIDEAN distance transform (Felzenszwalb
    // two-pass lower envelope, outside-is-background) on the
    // irregular half-plane mask (p3 > p2 within the valid rect):
    // per-image exact-integer aggregates + positional checksum; the
    // oracle recomputes d² brute-force against the boundary
    // background set (any nearest background cell is 8-adjacent to
    // some foreground cell) plus the closed-form axial edge term
    Gate("q_distance_transform", (s, dir) => {
      val dt = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Pixels
        val fg = Synth.vegMask(bytes, w, h, fmt).map(_ == 1.0)
        val d2 = Pixels.edt2(fg, w, h)
        var nfg = 0L; var sm = 0L; var mx = 0L; var chk = 0L
        var i = 0
        while (i < w * h) {
          if (fg(i)) {
            val v = d2(i).toLong
            nfg += 1; sm += v; if (v > mx) mx = v
            chk += v * ((i % w) + 131L * (i / w))
          }
          i += 1
        }
        (nfg, sm, mx, chk)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .withColumn("d", dt(col("bytes"), col("w").cast("int"),
          col("h").cast("int"), col("fmt")))
        .select(col("image_id"), col("d._1").as("n_fg"),
          col("d._2").as("d2sum"), col("d._3").as("d2max"),
          col("d._4").as("d2chk"))
        .orderBy("image_id")
    },
      Some(s"""WITH $I, $B, $SimgCte,
         |dtoffs(dx, dy) AS (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),
         |  (1,0),(-1,1),(0,1),(1,1)),
         |dtm0 AS (
         |  SELECT s.k, s.w, s.h, s.nw, xs.x, ys.y
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
         |dtcand AS (
         |  SELECT DISTINCT m.k, m.x + o.dx AS bx, m.y + o.dy AS by
         |  FROM dtm0 m CROSS JOIN dtoffs o),
         |dtbgb AS (
         |  SELECT c.k, c.bx, c.by
         |  FROM dtcand c
         |  JOIN simg s ON s.k = c.k
         |  JOIN bandp p2 ON p2.k = c.k AND p2.b = 2
         |  JOIN bandp p3 ON p3.k = c.k AND p3.b = 3
         |  WHERE c.bx BETWEEN 0 AND s.w-1 AND c.by BETWEEN 0 AND s.h-1
         |    AND NOT (c.bx >= s.nw
         |      AND p3.base + p3.ax*c.bx + p3.ay*c.by
         |        > p2.base + p2.ax*c.bx + p2.ay*c.by)),
         |dtmin AS (
         |  SELECT m.k, m.x, m.y,
         |    LEAST(
         |      CAST(LEAST(m.x+1, m.w-m.x, m.y+1, m.h-m.y) AS BIGINT)
         |        * LEAST(m.x+1, m.w-m.x, m.y+1, m.h-m.y),
         |      COALESCE(MIN(CAST(m.x-b.bx AS BIGINT)*(m.x-b.bx)
         |        + CAST(m.y-b.by AS BIGINT)*(m.y-b.by)),
         |        1099511627776)) AS d2
         |  FROM dtm0 m LEFT JOIN dtbgb b ON b.k = m.k
         |  GROUP BY m.k, m.x, m.y, m.w, m.h),
         |dtagg AS (
         |  SELECT k, COUNT(*) AS n_fg, SUM(d2) AS d2sum,
         |    MAX(d2) AS d2max, SUM(d2 * (x + 131*y)) AS d2chk
         |  FROM dtmin GROUP BY k)
         |SELECT s.image_id,
         |  CAST(COALESCE(a.n_fg, 0) AS BIGINT) AS n_fg,
         |  CAST(COALESCE(a.d2sum, 0) AS BIGINT) AS d2sum,
         |  CAST(COALESCE(a.d2max, 0) AS BIGINT) AS d2max,
         |  CAST(COALESCE(a.d2chk, 0) AS BIGINT) AS d2chk
         |FROM simg s LEFT JOIN dtagg a ON a.k = s.k
         |ORDER BY s.image_id""".stripMargin))
  )
}
