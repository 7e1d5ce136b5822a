package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import Timing.timed

/** A gate's recorded result on the benchmark's sf0.001 tables: row count,
  * order-insensitive row hash (None for the rows-only float gates) and
  * the median wall of the recording passes, which picks the sample. */
final case class GateRecord(name: String, family: String, rows: Long, hash: Option[Long], wallMs: Double)

object GateSuite {
  /** Gates with float outputs that the oracle checks by row count only. */
  val RowsOnly = Set("q_kmeans_emb", "q_kmeans_pixels", "q_rxd")

  /** Iterative gates, timed one by one in the traced run. q_kcore peels
    * its graph to nothing on sf0.001, so the exact k-means loop stands in. */
  val LoopGates = Seq("q_flow_accum", "q_watershed", "q_label_prop", "q_sssp", "q_kmeans_exact",
    "q_dedup_clusters", "q_bpe_merges", "q_knn", "q_pagerank")

  /** The only gates that reach the `streaming` and `sketch` layers, timed
    * per layer in the traced run. */
  val LayerGates = Seq("q_lineage_cdc" -> "streaming", "q_cms_topk" -> "sketch", "q_hll_distinct" -> "sketch")

  /** Gate name → family; the first matching pattern wins, `image` is the rest. */
  private val FamilyPatterns: Seq[(String, String)] = Seq(
    "table" -> "q_lineage_.*",
    "audio" -> "q_(audio_.*|curate_audio)",
    "terrain" -> ("q_(flow_.*|watershed|dem_slope|hillshade|cost_distance|viewshed|tpi|tri_rough|" +
      "strahler|distance_transform|skeleton_flux|zonal_trend|trend|mk_trend)"),
    "graph" -> "q_(pagerank|label_prop|sssp|kcore|triangles|two_hop|link_pred|clustering_coef|degree_dist|census)",
    "vec" -> "q_(ann_.*|emb_.*|kmeans_emb|pq_codes|semdedup.*|knn|vec_label_stats|img_embedding|clipscore|quantize_int8)",
    "text" -> ("q_(doc_.*|bpe_.*|bm25|tfidf_sim|ngrams|vocab|caption_.*|lm_coverage|minhash_.*|jaccard_.*|" +
      "simhash.*|edit_neardup|rouge_lcs|decontaminate|dup_.*|encode_ids|pmi|winnow|pack_sequences|mix_.*|" +
      "markov|curate|dedup_.*)"),
    "relational" -> ("q_(tpch_.*|events_.*|itemsets|assoc_rules|cube|chi2_assoc|gini_mix|od_flows|mobility|" +
      "staypoints|convoy|cms_topk|hll_distinct|kmv_distinct|epoch_shuffle|pack_shards|info|metadata|validate)"),
    "spatial" -> ("q_(spatial_.*|cells_cover|cell_rollup|geohash|quadkey.*|hilbert.*|zorder|hex_rollup|hotspot|" +
      "kde|ripley|moran|dbscan|colocate|knox|voronoi|convex_hull|union_area|snap_roads|crossings|" +
      "intersection_geom|containment|rasterize|polygonize|zonal_.*|track_.*|frechet|hausdorff|dtw|bearings|" +
      "geom_measures|vector_where|skyline|emerging|ewma_anomaly|changepoint|quadtree|overlay_order|" +
      "crop_rects|tiles.*|tile_.*|images_meta|ar_buckets)"),
    "raster" -> ("q_(warp_.*|mosaic_.*|band_.*|stack_bands|add_band|gain_offset|autoscale|overview_.*|" +
      "indices_stats|cloud_mask|fmask.*|acca.*|radcal|pansharp|spectral_.*|linear_transform|create_from|" +
      "subdatasets|colortable|dtype_stats|mask_apply|composite_.*|temporal_composite|rxd.*|kmeans_pixels.*|" +
      "classify|extract_classes|whiteness|channel_norm|corpus_hist|percentile|histogram|sieve|majority)"))

  val Families: Seq[String] = FamilyPatterns.map(_._1) :+ "image"

  def family(gate: String): String =
    FamilyPatterns.collectFirst { case (f, re) if gate.matches(re) => f }.getOrElse("image")

  def load(path: Path): Map[String, GateRecord] =
    Files.readAllLines(path).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, f, rows, hash, wall) = l.split("\t")
      n -> GateRecord(n, f, rows.toLong, if (hash == "-") None else Some(java.lang.Long.parseUnsignedLong(hash, 16)),
        wall.toDouble)
    }.toMap

  def write(path: Path, recs: Seq[GateRecord]): Unit = {
    val header = "# gate\tfamily\trows\trow_hash (hex, - = rows only)\twall_ms when recorded"
    val lines = recs.sortBy(_.name).map(r =>
      s"${r.name}\t${r.family}\t${r.rows}\t${r.hash.fold("-")(java.lang.Long.toHexString)}\t${f"${r.wallMs}%.1f"}")
    Files.write(path, (header +: lines).asJava)
  }

  /** The measured sample: each family's gate at the 1/3 rank by recorded wall. */
  def sample(recs: Map[String, GateRecord]): Seq[String] =
    Families.flatMap { f =>
      val gs = recs.values.filter(r => family(r.name) == f)
        .toSeq.sortBy(r => (r.wallMs, r.name)).map(_.name)
      gs.lift(gs.size / 3)
    }

  def run(spark: SparkSession, dir: String, gate: String): DataFrame =
    SparkEntry.queries(gate)(spark, dir)
}

/** Gates of the registry on the benchmark's sf0.001 tables: a fixed sample
  * of one gate per family. After an untimed first pass, the run repeats the
  * sample in seed-shuffled order; each gate is one operation whose result
  * must match its recorded fingerprint. */
final class GateSuite(c: Ctx, records: Map[String, GateRecord]) extends Workload {
  import GateSuite._
  val name = "gate_suite"
  private val dir = c.root.resolve("perfbench/data/sf0.001").toString
  private val gates = sample(records)
  private val rnd = new scala.util.Random(c.seed)
  private val order = rnd.shuffle(gates)

  def matches(gate: String, fp: (Long, Long)): Boolean =
    records.get(gate).exists(r => r.rows == fp._1 && r.hash.forall(_ == fp._2))

  /** Builds and runs one gate; returns (fingerprint, seconds to build its plan). */
  private def fingerprint(gate: String): ((Long, Long), Double) = {
    val df = GateSuite.run(c.spark, dir, gate)
    val plan = timed(df.queryExecution.executedPlan)._2
    (Checks.fingerprint(df), plan)
  }

  private def runGate(gate: String): (Boolean, Double, Double) = {
    val ((fp, plan), s) = timed(
      try fingerprint(gate)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $gate threw: $e")
        ((-1L, 0L), 0.0)
      })
    (c.tally.check(s"gate_suite: $gate fingerprint $fp vs ${records.get(gate)}", matches(gate, fp)), s, plan)
  }

  def setup(): Unit = {
    graft.expr.GraftFunctions.register(c.spark)
    c.tally.check("gate_suite: every recorded gate is registered",
      records.keySet.subsetOf(SparkEntry.queries.keySet))
    // warm-up: the three cheapest gates outside the sample
    records.values.filterNot(r => order.contains(r.name)).toSeq
      .sortBy(r => (r.wallMs, r.name)).take(3).foreach(r => runGate(r.name))
  }

  def pass(): Op = Op(runGate(order.head)._2, 1)

  /** An untimed first pass over the sample, then whole passes, each in a
    * new seeded order, until `seconds` have passed. */
  override def measure(seconds: Double): Seq[Op] = {
    order.foreach(runGate)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[Op]
    while (ops.isEmpty || System.nanoTime() < end)
      ops ++= rnd.shuffle(gates).map(g => Timing.withCpu(Op(runGate(g)._2, 1)))
    ops.toSeq
  }

  def attribute(t: Tracer, m: Metrics): Unit = {
    val p = name
    val sc = c.spark.sparkContext
    val floor = (1 to 7).map { _ =>
      timed(sc.parallelize(1 to c.cpus, c.cpus).map(i => (i, 1)).reduceByKey(_ + _, c.cpus).count())._2
    }
    // the sample (warm from its untraced runs), then every loop and layer gate
    order.foreach(runGate)
    val set = (order ++ LoopGates ++ LayerGates.map(_._1)).distinct
    val fam = mutable.LinkedHashMap(Families.map(_ -> 0.0): _*)
    val layer = mutable.LinkedHashMap(LayerGates.map(_._2 -> 0.0): _*)
    val all = new GroupStats
    var plan = 0.0
    var traced = 0.0
    var untraced = 0.0
    val walls = mutable.ArrayBuffer.empty[Double]
    set.zipWithIndex.foreach { case (g, i) =>
      // the sample also runs untraced, alternating which run goes first
      val compare = i < order.size
      def bare() = untraced += t.bare(runGate(g))._1._2
      if (compare && i % 2 == 0) bare()
      val ((_, _, pl), s, st) = t.span(s"$p.$g", p)(runGate(g))
      if (compare && i % 2 == 1) bare()
      if (compare) traced += s
      plan += pl
      walls += s
      fam(family(g)) += s
      all.add(st)
      if (LoopGates.contains(g)) {
        m.put(s"$p.loop.$g.jobs", st.jobs, "count")
        m.put(s"$p.loop.$g.s", s, "s")
      }
      LayerGates.find(_._1 == g).foreach { case (_, l) => layer(l) += s }
    }
    fam.foreach { case (f, s) => m.put(s"$p.family.${f}_s", s, "s") }
    layer.foreach { case (l, s) => m.put(s"$p.layer.${l}_s", s, "s") }
    m.put(s"$p.spark.jobs", all.jobs, "count")
    Attribution.sparkCounts(m, p, all)
    m.put(s"$p.spark.shuffle_write_mb", all.shuffleWriteBytes / 1e6, "MB")
    m.put(s"$p.floor.two_stage_job_s", Timing.median(floor), "s")
    m.put(s"$p.plan_s", plan, "s")
    m.put(s"$p.gate_p50_s", Timing.median(walls.toSeq), "s")
    m.put(s"$p.gate_p95_s", Timing.quantile(walls.toSeq, 0.95), "s")
    m.put(s"$p.persistent_rdds_after", sc.getPersistentRDDs.size, "count")
    System.gc()
    val rt = Runtime.getRuntime
    m.put(s"$p.heap_after_gc_mb", (rt.totalMemory - rt.freeMemory) / 1e6, "MB")
    m.put(s"$p.trace_overhead_share", traced / untraced - 1, "ratio")
  }
}
