package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode
import graft.gen.Synth
import graft.ops.{SpatialJoin, Tiling, Warp}
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the engine's load-bearing plans to
  * BENCH/PLANS.md — the written evidence behind the scale claims: which
  * exchanges exist, what got pushed down, where whole-stage codegen
  * spans run, and that no nested-loop join survives anywhere.
  */
object PlanDump {

  private def fmt(name: String, df: DataFrame, note: String,
                  allowConstSideNlj: Boolean = false): String = {
    val plan = df.queryExecution.explainString(FormattedMode)
    if (!allowConstSideNlj)
      require(!plan.contains("BroadcastNestedLoopJoin") &&
              !plan.contains("CartesianProduct"),
        s"nested-loop join leaked into the $name plan!")
    s"""## $name
       |
       |$note
       |
       |```
       |$plan
       |```
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    // fixed at 4, not host-sized, so BENCH/PLANS.md reproduces anywhere
    val spark = graft.Session("graft-plandump", cores = 4)
    val dir = "/root/testdata/sf0.001"

    val im = Synth.imagesRange(spark, 100000, 8)
    val po = Synth.polygonsRange(spark, 1000, sizeDiv = 8)
    val headline = Tiling.tiles(
      SpatialJoin.cropRects(SpatialJoin.joinRectsSmallImages(im, po, 7))
        .select(col("k"), col("fid"), col("cpx0"), col("cpy0"),
          (col("cpx1") - col("cpx0")).as("w"),
          (col("cpy1") - col("cpy0")).as("h")),
      chunkBytes = 65536)

    val imB = Synth.imagesWithBytes(spark, dir,
      _.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2)))
    val grids = Synth.images(spark, dir)
      .where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2))
      .select(col("image_id").as("gid"), col("x0m").as("gx0"),
        col("y0m").as("gy0"), col("x1m").as("gx1"), col("y1m").as("gy1"))
    val warp = Warp.warpInto(imB, grids, nbBands = Synth.NumBands)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val jac = graft.text.TextOps.jaccardPairsLsh(docs, 0.01)

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val lsh = graft.vec.VectorOps.lshTopK(emb, 64, col("vec_id") < 3, 10,
      nb = 4, tables = 16)
    val ivf = graft.vec.VectorOps.ivfTopK(emb, col("vec_id") < 3, 10)
    val pq = graft.vec.VectorOps.pqTopK(emb, col("vec_id") < 3, 10)
    val ivfpq = graft.vec.VectorOps.ivfPqTopK(emb, col("vec_id") < 3, 10)

    val imK = Synth.images(spark, dir)
      .withColumn("cxm", col("x0m") + col("w") * 2)
      .withColumn("cym", col("y0m") + col("h") * 2)
      .select("image_id", "cxm", "cym")
    val q = Synth.polygons(spark, dir)
      .select(col("fid").as("qid"),
        (col("px0m") + Tiling.idiv(col("pwm"), lit(2L))).as("qxm"),
        (col("py0m") + Tiling.idiv(col("phm"), lit(2L))).as("qym"))
    val knn = graft.ops.Knn.knn(spark, imK, q, 5, 7)

    val md = new StringBuilder
    md.append(
      """# Physical plans of the load-bearing pipelines
        |
        |Generated by `graft.tools.PlanDump` (`explain("formatted")` of the
        |exact DataFrames the gates/bench run). What to look for: every
        |data×data join is a hash/merge EQUI-join (no nested-loop join
        |between two data-sized relations), small sides broadcast, scans
        |prune to the key columns, and the per-row kernels sit inside
        |WholeStageCodegen spans. The ONE sanctioned nested-loop shape is
        |IVF's deliberate crossJoin against the broadcast 16-row centroid
        |set — a constant-side fan-out (cost O(N·kc)), which is the
        |correct plan for "compare each vector to every centroid".
        |
        |""".stripMargin)
    md.append(fmt("Headline spatial join + crop + tile map", headline,
      "One map-only stage: packed-long-cell BroadcastHashJoin " +
        "(LongHashedRelation), zero shuffles before the final aggregate. " +
        "The key and overlap test are null-tolerant (coalesce), so no " +
        "inferred isnotnull Filter re-derives the image boxes between " +
        "the Range and the join: each box is computed once per row."))
    md.append(fmt("warp_into (covering-cell tile gather, all 6 bands)", warp,
      "The image×tile pair join is the covering-cell EQUI-join " +
        "(round-2 verdict's BroadcastNestedLoopJoin is gone); the " +
        "fragment kernel decodes ONCE per image run (thread-local " +
        "memo) and emits per-band fragments via posexplode; fragments " +
        "merge in one hash aggregate keyed (tile, band)."))
    md.append(fmt("jaccardPairsLsh (MinHash full-signature bands)", jac,
      "Candidate generation = equi-join on (band, full signature); " +
        "verification joins shingle sets back by id — no cross join."))
    md.append(fmt("lshTopK (SRP-LSH ANN, 16×4-bit)", lsh,
      "Bucket explode → broadcast equi-join on (table, bucket) → " +
        "id-distinct → exact re-rank window."))
    md.append(fmt("ivfTopK (IVF ANN, 16 cells, nprobe 4)", ivf,
      "Corpus-side cell assignment is ONE codegen argmax per row " +
        "(centroids ride the expression as a reference object — the " +
        "former crossJoin+window shuffle is gone); only the few query " +
        "rows still cross the 16-row broadcast centroid set for " +
        "probing; the data×data candidate join is an equi-join on " +
        "cell id.",
      allowConstSideNlj = true))
    md.append(fmt("pqTopK (PQ ANN, 8×16 codebook, ADC)", pq,
      "Encode is a pure projection (codebook rides the codegen " +
        "expression as a reference object — no shuffle, no join); the " +
        "few query rows carry their m×ks ADC tables through a " +
        "broadcast constant-side fan-out; scoring is m table lookups " +
        "per candidate inside WholeStageCodegen.",
      allowConstSideNlj = true))
    md.append(fmt("ivfPqTopK (IVF-PQ composed ANN)", ivfpq,
      "The whole index build is ONE projection over the corpus — " +
        "cell id (codegen argmax) and PQ codes are per-row expression " +
        "calls, so there is no assignment shuffle and no codes " +
        "self-join; the data×data candidate join is an equi-join on " +
        "cell id shipping only (vec_id, cid, codes) — the embedding " +
        "column never rejoins after encode. Probing keeps the " +
        "sanctioned query×16-centroid broadcast fan-out.",
      allowConstSideNlj = true))
    val bpePairs = graft.text.TextOps.bpePairCounts(
      graft.text.TextOps.bpeWords(docs))
    md.append(fmt("bpePairCounts (one BPE trainer round)", bpePairs,
      "The corpus is touched once (word-frequency hash aggregate); " +
        "every merge round then explodes adjacent pairs of the " +
        "VOCAB-sized word table into one map-side-combined hash " +
        "aggregate — the argmax collect is 1 row; no corpus re-scan " +
        "per round."))
    val arb = graft.ops.Sharding.arBuckets(Synth.images(spark, dir),
      Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16), (3, 2), (2, 3),
        (2, 1), (1, 2)), 8, 4)
    md.append(fmt("arBuckets (AR-bucketed batch assembly)", arb,
      "Bucket assignment is a per-row struct argmin (array_min over " +
        "9 literal structs — pure projection); batching is one window " +
        "per (md5 writer, bucket), so parallelism = writers × buckets " +
        "and nothing global sorts."))
    md.append(fmt("kNN (k-ring expansion)", knn,
      "Query-side ring cells broadcast; the images table never " +
        "shuffles; ring-doubling bounds the rounds."))

    val ccRound = graft.graph.ConnectedComponents.starRound(
      graft.graph.ConnectedComponents.canonEdges(
        jac.select("id_a", "id_b")))
    md.append(fmt("connected components (one star round)", ccRound,
      "Each large-star/small-star round is two hash aggregates (per-" +
        "node min) + two equi-joins back on node id — everything " +
        "shuffles on the node key, nothing driver-side; the fixpoint " +
        "loop truncates lineage per round with localCheckpoint."))

    val zonal = graft.ops.Stats.zonalStats(imB,
      Synth.polygons(spark, dir), Synth.NumBands)
    md.append(fmt("zonal statistics (extract-by-vector)", zonal,
      "Covering-cell equi-join (polygons broadcast), per-pair windowed " +
        "decode kernel in a projection, map-side-combined hash " +
        "aggregate on fid — only 4-field summaries shuffle, never " +
        "pixels."))
    val zonalPoly = graft.ops.Stats.zonalStatsPoly(imB,
      Synth.polygonsL(spark, dir), Synth.NumBands)
    md.append(fmt("zonal statistics, concave ring (ray-cast)", zonalPoly,
      "Same join shape as the rect variant; the exact refine is the " +
        "codegen RectIntersectsPoly expression and the kernel " +
        "ray-casts pixel centers against the (memoized) parsed ring — " +
        "decode memo keeps one decode per image run."))

    val ev = spark.read.parquet(s"$dir/events.parquet")
    val asof = graft.ops.TimeJoins.asofJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "view"),
      "user_id", "ts", "event_id", "event_id")
    md.append(fmt("as-of join (latest preceding per key)", asof,
      "No join operator at all: tag + union + ONE window pass per key " +
        "— a single shuffle on the entity key, linear in the union " +
        "size."))
    val rng = graft.ops.TimeJoins.rangeJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "error"),
      "user_id", "ts", "event_id", "event_id", 3600L)
    md.append(fmt("range join (bounded interval)", rng,
      "1-D covering-bucket EQUI-join (bucket width = the gap, right " +
        "side explodes to two buckets) + exact refine — the time-axis " +
        "analog of the spatial cell join; no nested loop, no distinct."))
    val decon = graft.text.TextOps.decontaminate(docs,
      docs.where(col("doc_id") % 17 === 0), 3, 2)
    md.append(fmt("decontamination (benchmark n-gram overlap)", decon,
      "Benchmark grams broadcast; the corpus side has NO pre-join " +
        "exchange (its per-doc distinct is folded into the post-join " +
        "countDistinct, which only ever sees matched rows)."))
    val dsp = graft.text.TextOps.dupSpans(docs, 4)
    md.append(fmt("duplicate-substring spans (seed grams + islands)", dsp,
      "Gram frequency is a PARTIAL-AGGREGATED count (map-side combine " +
        "bounds any one gram's reducer input by the map-task count — " +
        "a 10^9-occurrence boilerplate gram is no longer one hot " +
        "window partition) semi-joined back onto the gram rows; the " +
        "doc-keyed island window then sees only SURVIVING duplicated " +
        "windows. Look for partial_count under HashAggregate and " +
        "LeftSemi — and no Window on the gram axis."))
    // materialize the corpus band table first (the ingest loop holds
    // it as a Lineage-bucketed table) so the dump shows the BATCH
    // plan, not the one-time band build
    val incBands = graft.text.TextOps.bandTable(docs).localCheckpoint()
    val incDelta = docs.limit(50)
    val inc = graft.text.TextOps.jaccardPairsIncrementalBands(
      incBands, docs, incDelta, 0.5)
    md.append(fmt("incremental near-dup (delta batch vs corpus bands)", inc,
      "The continual-ingest batch path: the PRECOMPUTED corpus band " +
        "table is probed by the BROADCAST delta bands (BroadcastHashJoin " +
        "— the corpus side streams with no exchange on the batch path), " +
        "and the exact-Jaccard verify fetches both shingle sets via " +
        "broadcast semi-joins of the delta-bounded candidate ids. " +
        "Per-batch cost: delta work + one corpus-band stream; the " +
        "corpus is never re-banded or reshuffled."))
    val dscr = graft.text.TextOps.dupSpanScrub(docs, 4)
    md.append(fmt("duplicate-span excision (corpus-first keep)", dscr,
      "Adds to the span plan one gram-keyed argmin aggregate and an " +
        "equi-join of spans to it (both on the same uniform md5 key), " +
        "then a doc_id-keyed join of the removed-span lists back to " +
        "the corpus; the text rebuild is a per-row projection."))
    val wno = graft.text.TextOps.winnow(docs, 3, 4)
    md.append(fmt("winnowing fingerprints (SIGMOD 2003)", wno,
      "Explode + two doc-keyed window passes and a distinct — NO " +
        "corpus-wide shuffle at all until a consumer groups by " +
        "fingerprint; selection density ~2/(w+1) of the gram volume."))
    val curate = graft.text.TextOps.curate(docs,
      Seq("en" -> 600, "de" -> 400, "es" -> 500, "fr" -> 700,
          "zh" -> 300), "cur")
    md.append(fmt("curation pipeline (5 composed stages)", curate,
      "langid/quality/sample flags are ONE projection over the doc " +
        "row (no self-joins); only the cluster keep and the " +
        "contamination hit set — both corpus-sublinear — join back " +
        "on doc_id."))
    val shards = graft.ops.Sharding.packShards(imB, 65536L, 2)
    md.append(fmt("shard packing (greedy per-writer)", shards,
      "One hash exchange on writer + partition-local sort + an " +
        "O(1)-state streaming pass; the parallel axis is the writer " +
        "count, never a global order."))
    val eps = graft.text.TextOps.epochShuffle(docs, 2, 4)
    md.append(fmt("epoch shuffle (sharded training permutation)", eps,
      "row_number windows PARTITION BY shard — the permutation " +
        "parallelizes across shards; no single-partition global sort."))

    val pyr = SpatialJoin.cellPyramid(Synth.imagesRange(spark, 100000, 8),
      10, 7)
    md.append(fmt("cell-density pyramid (hierarchical rollup)", pyr,
      "One image scan feeds the res-10 hash aggregate; the res-7 " +
        "level re-aggregates the BOUNDED cell summary on parent-shift " +
        "keys — the second exchange carries ≤ #cells rows regardless " +
        "of corpus size."))
    val bm = graft.text.TextOps.bm25(docs, 3, 10)
    md.append(fmt("BM25 (broadcast query-term probe)", bm,
      "Postings build is the one data-sized shuffle; the 3-row query " +
        "set and 1-row corpus totals broadcast (the totals cross join " +
        "is the sanctioned constant-side shape), so scoring and the " +
        "top-k window touch only the query terms' postings.",
      allowConstSideNlj = true))
    val enc = graft.text.TextOps.encodeIds(docs, 40)
    md.append(fmt("dictionary encoding (broadcast vocab apply)", enc,
      "The induced top-N vocab broadcasts to the encode join: explode " +
        "→ broadcast hash probe → map-side-combined per-doc aggregate " +
        "— the only full shuffle is the vocab induction itself."))
    val hll = graft.sketch.Hll.sketch(
      docs.select(explode(graft.text.TextOps.toks).as("term")),
      col("term"))
    md.append(fmt("HLL distinct sketch (mergeable 256-register aggregate)",
      hll,
      "Pure codegen register arithmetic inside the scan projection; " +
        "the aggregate keys on 256 registers, so map-side combine " +
        "reduces every partition to ≤ 256 rows before the exchange."))

    val funnel = graft.ops.TimeJoins.funnel(ev, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), 86400000000L)
    md.append(fmt("funnel (ordered event-sequence depth)", funnel,
      "Constant number of entity-keyed conditional aggregates over " +
        "type-filtered slices; every shuffle keys on the entity and " +
        "the survivor set shrinks per step."))
    val bloomJoin = SpatialJoin.joinRectsBloom(
      Synth.imagesRange(spark, 50000, 8),
      Synth.polygonsRange(spark, 100, sizeDiv = 8), 7)
    md.append(fmt("bloom-prefiltered shuffled spatial join", bloomJoin,
      "The Bloom filter over polygon cells applies in the image-side " +
        "scan projection (before the exchange), so pruned rows never " +
        "ship; the surviving cover rows probe the per-cell polygon " +
        "buckets (collect_list aggregate on `cell`) with the " +
        "graft_rect_probe kernel."))

    val cube = Synth.images(spark, dir)
      .cube(col("fmt"), col("nw"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("w") * col("h")).as("px_sum"))
    md.append(fmt("CUBE aggregation (multi-granularity grouping sets)", cube,
      "Catalyst expands all four grouping sets into ONE Expand + " +
        "hash-aggregate pass — a single exchange keyed " +
        "(fmt, nw, grouping-id), not one job per granularity, and " +
        "map-side combine applies before the exchange."))
    val zord = SpatialJoin.zOrdered(Synth.images(spark, dir), 10)
      .select("image_id", "zix", "ziy", "z")
    md.append(fmt("z-order layout keys (Morton interleave)", zord,
      "Pure codegen projection over the scan — computing the " +
        "spatial-clustering write key costs no exchange; a writer " +
        "range-partitions on z so spatial neighbors land in the same " +
        "files and later cell scans prune."))
    import spark.implicits._
    val denseIm = imB
      .withColumn("x0m", (col("k") % 4) * 60 - 100)
      .withColumn("y0m", ((col("k") * 3) % 4) * 60 - 100)
      .withColumn("x1m", col("x0m") + col("w") * 4)
      .withColumn("y1m", col("y0m") + col("h") * 4)
    val gridOne = Seq((0L, -120L, -120L, 260L, 260L))
      .toDF("gid", "gx0", "gy0", "gx1", "gy1")
    val compMed = Warp.warpInto(denseIm, gridOne, mergeMode = 2)
    md.append(fmt("median composite (per-pixel lower-median merge)", compMed,
      "Same covering-cell equi-join tile gather as warp_into; the " +
        "merge rule only changes the final (tile, band) aggregate — " +
        "per-pixel value lists stay bounded by the overlap depth, " +
        "never the corpus."))

    // ---- terrain pack ----
    val demT = Synth.demImages(spark, dir,
      _.where(col("w") <= 64 && col("h") <= 64 &&
        (col("k") % 6 === 1 || col("k") % 6 === 2)))
    val slopeP = demT.withColumn("sl", graft.ops.Terrain.slopeAgg(
        col("dem_bytes"), col("w").cast("int"), col("h").cast("int")))
      .select(col("image_id"), col("sl._4").as("slope_fsum"))
    md.append(fmt("terrain slope/hillshade (per-image kernels)", slopeP,
      "Map-only: decode + Horn stencil per image inside the project — " +
        "NO exchange anywhere; the scan prunes to (k, w, h) and the " +
        "payload column. Hillshade/contours/Harris share this shape."))
    md.append(fmt("terrain flow accumulation (per-image kernel)",
      graft.ops.Terrain.flowAccum(demT),
      "Map-only: decode + one D8 topological pass per image, exploded " +
        "to one row per cell — NO Exchange, no checkpoint, no round."))
    md.append(fmt("terrain watershed (per-image kernel)",
      graft.ops.Terrain.watershed(demT),
      "Map-only: the same decode + D8 topological order, walked " +
        "backwards to label each cell with its pit — NO Exchange, no " +
        "checkpoint, no round."))

    // ---- graph / sketch / binning pack ----
    val tris = SpatialJoin.triangleCensus(
      Synth.imagesRange(spark, 50000, 8), 3000L)
    md.append(fmt("proximity-graph triangle census", tris,
      "Edge discovery is the covering-cell EQUI-join over padded " +
        "footprints (owned-cell dedup — no post-join distinct, never " +
        "all-pairs); triangles close via degree-ordered orientation: " +
        "wedges generate at the lowest-(deg,id) apex only and probe " +
        "the oriented edge list with a hash join, so per-vertex work " +
        "is bounded by out-degree² (≈ arboricity²), not hub degree. " +
        "The one nested-loop shape is the final 1-row × 1-row " +
        "crossJoin stitching the edge-count scalar to the triangle " +
        "scalar — constant-side by construction.",
      allowConstSideNlj = true))
    val hexb = SpatialJoin.hexBin(Synth.imagesRange(spark, 50000, 8),
      9000L, 14000L)
    md.append(fmt("hex-lattice centroid binning", hexb,
      "A 9-candidate explode + per-row min-struct argmin (both inside " +
        "the scan projection), then ONE map-side-combined aggregate " +
        "keyed by the bounded (hi, hj) bin set — shuffle rows ≤ bins, " +
        "never images."))
    val kmvP = docs.select(col("source"), md5(col("text")).as("h"))
      .distinct()
      .groupBy("source")
      .agg(udaf(new graft.text.KmvSketch(8),
        org.apache.spark.sql.Encoders.STRING)(col("h")).as("kth"))
    md.append(fmt("KMV distinct sketch (bounded mergeable aggregate)", kmvP,
      "The Aggregator state is the ≤k-entry sorted array, so Spark " +
        "partial-aggregates per partition and ships sketches, not " +
        "rows, through the exchange — the same mergeable-sketch " +
        "contract as HLL, in exact-oracle-checkable form."))

    val evT = spark.read.parquet(s"$dir/events.parquet")
      .where(col("user_id") < 40)
    val hmT = md5(col("event_id").cast("string"))
    val winT = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    import graft.sketch.Cms.hexVal
    val trk = evT.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("idx", row_number().over(winT).cast("long") - 1)
      .withColumn("px", (hexVal(hmT, 1) * 256 + hexVal(hmT, 2) * 16 +
        hexVal(hmT, 3)).cast("long"))
      .withColumn("py", (hexVal(hmT, 4) * 256 + hexVal(hmT, 5) * 16 +
        hexVal(hmT, 6)).cast("long"))
      .groupBy("user_id")
      .agg(collect_list(struct(col("idx"), col("px"), col("py"))).as("pts"))
      .withColumn("r", graft.ops.Tracks.dpAgg(col("pts"), lit(1048576L)))
    md.append(fmt("trajectory ops (Douglas-Peucker / stay-points / hull)",
      trk,
      "The per-key-sequential shape: coordinates derive in the scan " +
        "projection (md5 + ascii arithmetic — codegen'd), ONE " +
        "exchange on the track key collects each track, and the " +
        "whole recursion runs inside the kernel call — tracks " +
        "parallelize across the corpus while the per-track algorithm " +
        "stays a tight array loop. No joins, no per-iteration " +
        "shuffles."))

    // round-5 point-pattern / map-matching family — the four distinct
    // plan shapes behind q_crossings/q_snap_roads/q_kde/q_convoy
    val ptsP = evT.select(col("event_id").as("id"),
      col("user_id").as("u"),
      (hexVal(hmT, 1) * 256 + hexVal(hmT, 2) * 16 +
        hexVal(hmT, 3)).cast("long").as("px"),
      (hexVal(hmT, 4) * 256 + hexVal(hmT, 5) * 16 +
        hexVal(hmT, 6)).cast("long").as("py"),
      unix_timestamp(col("ts")).as("t"))
    val segsP = ptsP.select(col("id").as("sid"), col("u"),
      (col("px") + 128).as("ax"), (col("py") + 128).as("ay"),
      (col("px") + 200).as("bx"), (col("py") + 60).as("by"))
    md.append(fmt("segment crossings (banded bbox-cover pair join)",
      graft.ops.SpatialJoin.segmentCrossings(segsP, 256L),
      "Both sides explode their bbox cover cells and meet on an " +
        "EQUI-key (ccx, ccy); the reporter-cell conjunct dedupes " +
        "multi-cell pairs WITHOUT a distinct exchange, and the " +
        "orientation predicate is four integer cross products inside " +
        "WholeStageCodegen. The only nested-loop node is the final " +
        "1-row×1-row summary stitch (count crossJoin count) — " +
        "constant-side by construction, like the Knox contingency.",
      allowConstSideNlj = true))
    val roadsP = segsP.limit(200)
    md.append(fmt("map-matching snap (rational argmin anti-join)",
      graft.ops.SpatialJoin.snapToSegments(
        ptsP.select("id", "px", "py"), roadsP, 256L, 128L),
      "Candidates come from the r-padded cover-cell equi-join; the " +
        "argmin is a LEFT ANTI self-join on the point id (equi-key " +
        "with the cross-multiplied rational order as residual " +
        "condition) — quadratic only in the per-point candidate " +
        "count, which road density bounds."))
    md.append(fmt("KDE heatmap (explode-9, no pair join)",
      graft.ops.SpatialJoin.kdeHeatmap(ptsP.select("px", "py"), 256L),
      "The whole surface is explode(3×3) → codegen filter → ONE " +
        "map-side-combined hash aggregate on the cell key: shuffle " +
        "rows ≤ occupied cells, never points — the cheapest possible " +
        "density plan."))
    md.append(fmt("convoy pairs (per-bucket banded join + run islands)",
      graft.ops.Tracks.convoyPairs(
        ptsP.select("u", "px", "py", "t"), 256L, 86400L, 3),
      "Co-location candidates meet on the (bucket, cell) equi-key — " +
        "the band key includes TIME, so distinct days never join; the " +
        "distinct pair-bucket set then takes one (ua, ub)-keyed " +
        "window for the island runs. No all-pairs on either axis."))

    md.append(fmt("emerging hotspots (MK trend × broadcast slice test)",
      graft.ops.SpatialJoin.emergingHotspots(
        ptsP.select("px", "py", "t"), 512L, 86400L),
      "The MK series self-join is calendar-bounded per cell; the " +
        "final-slice hot test is one 9-key explode join over the " +
        "occupied-cell set, and the global slice mean arrives as a " +
        "single broadcast row (the 1-row aggregate crosses in, so " +
        "the const-side NLJ below is a scalar, not data).",
      allowConstSideNlj = true))
    md.append(fmt("quadkey pyramid rollup (prefix aggregation)",
      {
        val imQ = Synth.imagesRange(spark, 100000, 8)
          .withColumn("tx", expr("CAST((x0m + 150000) div 4096 AS BIGINT)"))
          .withColumn("ty", expr("CAST((y0m + 60000) div 4096 AS BIGINT)"))
        imQ.groupBy(substring(SpatialJoin.quadkey(col("tx"), col("ty"), 7),
            1, 4).as("tile"))
          .agg(count(lit(1)).as("n_images"))
      },
      "The serving-pyramid density rollup: pure codegen base-4 key " +
        "arithmetic inside the scan stage, then ONE map-side-combined " +
        "hash aggregate whose shuffle keyspace is ≤ 4^4 tiles — " +
        "corpus-size-independent exchange, the same shape at 10^12 " +
        "rows."))

    val audB = Synth.audioWithBytes(spark, dir,
      _.where(col("k") % 3 === 1), twins = true)
    md.append(fmt("audio clip stats (decode-once projection kernel)",
      graft.ops.Audio.clipStats(audB),
      "The audio analog of the image band-stats path: one PCM decode " +
        "per clip inside a projection — no shuffle at all until a " +
        "caller aggregates, so the plan is a single codegen'd scan " +
        "stage however large the corpus."))
    md.append(fmt("audio VAD segments (bounded per-clip windows)",
      graft.ops.Audio.vadSegments(graft.ops.Audio.frameEnergies(audB)),
      "Frame energies explode from the decode kernel (≤ n/hop rows " +
        "per clip), then gaps-and-islands is two windows PARTITIONED " +
        "BY clip — every window partition is bounded by the clip's " +
        "frame count, never by corpus size."))
    md.append(fmt("audio near-dup (banded Hamming over fingerprints)",
      graft.ops.Audio.nearDup(audB),
      "Span-energy fingerprints from the decode kernel, then the " +
        "shared 4×16-band Hamming equi-join (full recall ≤ 3 by " +
        "pigeonhole) — sub-quadratic candidates, no cross join, the " +
        "same plan shape as pHash/SimHash dedup."))

    val prox = SpatialJoin.proximityEdges(Synth.images(spark, dir), 3000L)
    md.append(fmt("label propagation (one vote round of the gate)",
      graft.graph.LabelProp.labelProp(prox, 1),
      "Per round: the directed edge list equi-joins the label table " +
        "on the source key, then a TWO-LEVEL aggregate — (node, " +
        "label) counts partial-aggregate map-side (a hub's edges " +
        "collapse to one combiner row per distinct neighbor label " +
        "per task), and the per-node argmax reduces the label " +
        "histogram. No window over the corpus, no all-pairs."))
    md.append(fmt("link prediction (wedge join + anti-join)",
      graft.graph.LabelProp.linkPredict(prox, 40),
      "Candidates are wedges generated at their MIDDLE vertex (one " +
        "self-equi-join of the directed edges on the middle key, " +
        "work Σ deg² — geometry-bounded on this graph), the (a,b) " +
        "common-neighbor count partial-aggregates map-side, " +
        "already-adjacent pairs leave via one LEFT ANTI hash join, " +
        "degrees join back by key. The top-k is the only sort and " +
        "runs on the candidate table."))
    md.append(fmt("tf-idf pair similarity (pruned posting self-join)",
      graft.text.TextOps.tfidfSimPairs(
        spark.read.parquet(s"$dir/documents.parquet"), 100L, 30),
      "The df ≤ cap filter BOUNDS the posting self-join fan-out " +
        "(Σ df² ≤ cap·Σdf) — the df table and norms are " +
        "vocabulary-sized broadcasts; the (a,b) dot aggregate " +
        "partial-aggregates map-side; the one 128-bit step (dot²) " +
        "is a scalar over the already-tiny pair table. (The one " +
        "sanctioned NLJ is the 1-row corpus-count broadcast.)",
      allowConstSideNlj = true))
    md.append(fmt("class-affinity classifier (broadcast model scoring)",
      graft.text.TextOps.classAffinity(
        spark.read.parquet(s"$dir/documents.parquet"), 200),
      "Training = two corpus-touching aggregates (class-term counts, " +
        "class totals); the model is vocabulary×classes-sized and " +
        "BROADCAST into the scoring join, so applying the classifier " +
        "is one map-side pass over the val corpus + a per-doc argmax " +
        "window over ≤ #classes rows.", allowConstSideNlj = true))

    md.append(fmt("clustering coefficient (degree-ordered triangles)",
      graft.graph.LabelProp.clusteringCoef(prox),
      "Wedges form at their lowest-(deg,id) apex and close against " +
        "the oriented edge list via one LEFT SEMI hash join — each " +
        "triangle materializes once, work Σ out-deg² with out-degrees " +
        "capped near the arboricity; corner credits explode from the " +
        "triangle rows and partial-aggregate map-side."))
    md.append(fmt("Markov event transitions (entity-keyed window)",
      graft.ops.TimeJoins.eventTransitions(
        spark.read.parquet(s"$dir/events.parquet")),
      "The LEAD window is PARTITIONED BY user — no global sort — and " +
        "everything after it is a type²-bounded aggregate: the " +
        "transition matrix is vocabulary-sized however large the " +
        "event log."))

    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/PLANS.md"), md.toString)
    println(s"BENCH/PLANS.md written (${md.length} chars)")
    spark.stop()
  }
}
