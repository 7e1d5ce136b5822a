package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.index.CellGrid

/** Structured-Streaming surface: continuous ingest of image-metadata
  * rows → covering-cell assignment → per-cell running aggregation.
  * The reference is batch-only (chunk loops); the north rule needs
  * RESUMABILITY, which the batch path gets from graft.table.Lineage —
  * this module covers the genuinely-streaming ingest case (new imagery
  * arriving continuously), where checkpointing is Spark's own.
  */
object CellStream {

  /** Streaming per-cell image counts at `res` (update/complete modes).
    * Input stream needs (image_id, x0m, y0m): each image lands in its
    * min-corner cell — a pure map, so the only stateful operator is
    * the final aggregation (bounded state: one row per touched cell). */
  def cellCounts(stream: DataFrame, res: Int): DataFrame = {
    val shift = CellGrid.Shift - res
    stream
      .withColumn("cell",
        shiftright(col("x0m") + CellGrid.OffX, shift) * CellGrid.IxMul +
        shiftright(col("y0m") + CellGrid.OffY, shift))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_images"))
  }

  /** Per-cell CUSTOM state via mapGroupsWithState — the pattern for
    * state the built-in aggregates can't express (here: running count
    * + first/last event-time per cell, updated incrementally across
    * micro-batches; state size = one row per touched cell). Input:
    * typed (cell, tsMicros) rows; run the query in Update mode. */
  def cellRunningState(stream: Dataset[(Long, Long)])
      : Dataset[(Long, Long, Long, Long)] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[(Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, first, last) =
            state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
          rows.foreach { r =>
            n += 1
            if (r._2 < first) first = r._2
            if (r._2 > last) last = r._2
          }
          state.update((n, first, last))
          (cell, n, first, last)
      }
  }

  /** STREAMING per-cell EWMA burst detector — the ingest-time twin of
    * the batch `SpatialJoin.ewmaAnomaly` gate, with the SAME exact
    * arithmetic: per (cell, day) the state carries (lastDay, T) where
    * T = 2^{idx}·s after day `lastDay`'s update and idx counts days
    * from the cell's first-seen day; a new day first decays the scaled
    * sum (conceptually — the closed form needs no rescan: T just
    * accumulates x·2^{idx−1} and the comparison shifts instead), then
    * flags x_t > 6·s_{t−1} as 2^{t−1}·x_t > 6·T_{t−1} — integers only,
    * no floats, identical to the batch rule. To keep the scaled sum
    * Long-safe indefinitely (the batch op bounds its window; a stream
    * has no end), the state RENORMALIZES: when idx reaches 40 the sum
    * is shifted right by 20 and idx rebased — a floor that loses only
    * sub-2^-20 mass, applied identically on every run since it
    * depends only on the input sequence. State: one row per cell.
    * Input: typed (cell, day, count) rows — one per cell-day (the
    * upstream micro-batch aggregate) in event-time order per cell;
    * emits (cell, day, x, anomFlag) for EVERY processed cell-day —
    * flatMapGroupsWithState, so a micro-batch that delivers several
    * new days for one cell emits one flagged row per day, matching
    * the batch ewmaAnomaly row-per-day contract (ADVICE r5: the
    * earlier mapGroupsWithState form folded all days into state but
    * emitted only the last one). Run in Update mode. */
  def ewmaBurstState(stream: Dataset[(Long, Long, Long)])
      : Dataset[(Long, Long, Long, Long)] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          // state = (firstDay, lastIdx, T)
          var (day0, idx, t) = state.getOption.getOrElse((-1L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, d, x) =>
            if (day0 < 0) day0 = d
            var i = d - day0 + 1
            if (i > idx) {
              // renormalize before the exponent can overflow
              if (i > 40) {
                val shift = i - 20
                t = t >> shift.min(62L).toInt
                day0 += shift
                i = d - day0 + 1
              }
              val xw = x << (i - 1).toInt
              val anom = if (xw > 6 * t) 1L else 0L
              t += xw
              idx = i
              out += ((cell, d, x, anom))
            }
            // late/duplicate days (i <= idx) are ignored: the batch
            // pass owns corrections, ingest state only moves forward.
            // A day repeated within one micro-batch keeps its smallest
            // count (the (day, count) sort meets it first); across
            // micro-batches the first arrival wins.
          }
          state.update((day0, idx, t))
          out.iterator
      }
  }

  /** STREAMING exact dedup — the ingest-time half of the dedup
    * pipeline (the batch half is TextOps.dedupExact + the
    * ConnectedComponents clustering): emit ONE representative per
    * content hash, suppress re-arrivals. Within a single micro-batch
    * the surviving row is arbitrary (shuffle-read order) — canonical-
    * representative choice belongs to the batch clustering pass, not
    * ingest. `dropDuplicatesWithinWatermark`
    * keys state on the hash and — unlike plain `dropDuplicates`, whose
    * state grows without bound — evicts entries once the watermark
    * passes them: state is bounded by (arrival rate × lateness), which
    * is what makes continuous 10¹²-row ingest feasible. Duplicates
    * separated by more than `lateness` re-emit (the documented
    * contract: the batch clustering pass catches them). Input stream
    * needs (ts, doc_id, text). */
  def dedupStream(stream: DataFrame, lateness: String): DataFrame =
    stream
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("h"))

  /** IMAGE-ingest twin of [[dedupStream]]: dedup on the perceptual
    * hash column itself (phash is part of the input_hint schema, so
    * no payload decode happens at ingest). Exact-phash ingest dedup
    * only — near-dup (Hamming ≤ d) clustering stays in the batch
    * [[graft.ops.Hamming]]/CC pass, exactly as text near-dup does.
    * State bounded by rate × lateness. Input needs (ts, image_id,
    * phash). */
  def dedupImageStream(stream: DataFrame, lateness: String): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("phash")
      .select(col("image_id"), col("phash"))

  /** AUDIO-ingest twin of [[dedupImageStream]]: the span-energy
    * fingerprint is computed inside the ingest projection (one PCM
    * decode per arriving clip, stateless) and exact-fingerprint
    * duplicates are dropped within the watermark. Near-dup (Hamming
    * ≤ d) clustering stays in the batch [[graft.ops.Audio.nearDup]]
    * pass, exactly as image/text near-dup does. State bounded by
    * rate × lateness. Input needs (ts, audio_id, bytes). */
  def dedupAudioStream(stream: DataFrame, lateness: String): DataFrame =
    stream
      .withColumn("fp", graft.ops.Audio.fpCol(col("bytes")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("audio_id"), col("fp"))

  /** EXACTLY-ONCE streaming sink into the resumable Lineage table:
    * each micro-batch lands in its own epoch directory via
    * `Lineage.writeResumable` — Spark's checkpoint replays a failed
    * epoch with the SAME batch id, and writeResumable skips that
    * epoch's already-committed buckets, so replays are no-ops (the
    * idempotent-epoch-write pattern an Iceberg streaming sink uses).
    * Read the table back with [[readLineageEpochs]]. */
  def sinkToLineage(stream: DataFrame, root: String, keyCol: String,
                    nParts: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) =>
        graft.table.Lineage.writeResumable(batch.sparkSession, batch.toDF(),
          s"$root/epoch=$id", keyCol, nParts)
        ()
    }

  /** STREAMING near-dup — the continual-ingest composition of
    * [[graft.text.TextOps.jaccardPairsIncrementalBands]]. Per
    * micro-batch of (doc_id, text):
    *   1. the batch is probed against the ACCUMULATED corpus — docs
    *      and band rows from every epoch committed so far — with the
    *      batch bands BROADCAST, so per-batch cost tracks the batch
    *      plus one corpus-band stream (never a corpus re-band);
    *   2. delta×corpus near-dup pairs land under `pairsRoot/epoch=id`;
    *   3. the batch's docs and band rows are appended as their own
    *      epoch, becoming corpus for later batches.
    * All writes are idempotent Lineage epoch commits, so a replayed
    * micro-batch is a no-op and the whole state (corpus, bands,
    * pairs) lives in resumable on-disk tables — the Iceberg-sink
    * pattern. In-batch duplicates are the BATCH dedup op's job
    * ([[graft.text.TextOps.jaccardPairsLsh]] on the delta); this
    * operator owns the delta-vs-history axis. */
  def nearDupStream(stream: DataFrame, docsRoot: String,
                    bandsRoot: String, pairsRoot: String,
                    threshold: Double, nParts: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) =>
        val spark = batch.sparkSession
        val delta = batch.toDF().localCheckpoint()
        val epochs = lineageEpochs(docsRoot)
        if (epochs.nonEmpty) {
          val corpusDocs = readLineageEpochs(spark, docsRoot)
          val corpusBands = readLineageEpochs(spark, bandsRoot)
          val pairs = graft.text.TextOps.jaccardPairsIncrementalBands(
            corpusBands, corpusDocs, delta, threshold)
          graft.table.Lineage.writeResumable(spark, pairs,
            s"$pairsRoot/epoch=$id", "id_new", nParts)
        }
        graft.table.Lineage.writeResumable(spark, delta,
          s"$docsRoot/epoch=$id", "doc_id", nParts)
        graft.table.Lineage.writeResumable(spark,
          graft.text.TextOps.bandTable(delta),
          s"$bandsRoot/epoch=$id", "doc_id", nParts)
        ()
    }

  /** (epoch id, epoch root) pairs committed under `root`, ascending. */
  def lineageEpochs(root: String): Seq[(Long, String)] = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("epoch="))
        .map(p => p.getFileName.toString.stripPrefix("epoch=").toLong ->
          p.toString)
        .toSeq.sortBy(_._1)
    }
  }

  /** Union of all committed epoch tables under `root` (empty DataFrame
    * when nothing committed yet). */
  def readLineageEpochs(spark: org.apache.spark.sql.SparkSession,
                        root: String): DataFrame =
    unionEpochs(spark, lineageEpochs(root).map(_._2))

  /** INCREMENTAL consumption of the epoch-sink layout (Iceberg
    * incremental append scan / CDC read): only the epochs with id >
    * `afterEpoch` are opened — a downstream batch consumer checkpoints
    * [[latestLineageEpoch]] after each run and re-processes ONLY data
    * that arrived since, never the 10¹²-row history. Epoch ids are the
    * streaming sink's micro-batch ids: monotonic, gap-free per the
    * checkpoint contract, and immutable once committed — so the cursor
    * is exact (no timestamp skew, no double-reads on replay: a replayed
    * epoch rewrites the SAME id idempotently). */
  def readLineageEpochsSince(spark: org.apache.spark.sql.SparkSession,
                             root: String, afterEpoch: Long): DataFrame =
    unionEpochs(spark,
      lineageEpochs(root).collect { case (id, p) if id > afterEpoch => p })

  /** The newest committed epoch id (cursor for incremental consumers);
    * -1 when the sink has not committed anything yet. */
  def latestLineageEpoch(root: String): Long =
    lineageEpochs(root).lastOption.map(_._1).getOrElse(-1L)

  private def unionEpochs(spark: org.apache.spark.sql.SparkSession,
                          roots: Seq[String]): DataFrame =
    roots.map(e => graft.table.Lineage.read(spark, e))
      .filter(!_.isEmpty)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.emptyDataFrame)

  /** STREAM-STATIC spatial join: continuously arriving image rows
    * (x0m..y1m footprints) join the static polygon layer through the
    * SAME covering-cell equi-join as the batch path
    * ([[graft.ops.SpatialJoin.joinRects]]) — every operator involved
    * (project, cell explode, broadcast hash join, exact-refine filter,
    * reporter-cell dedup) is STATELESS, so the query runs in Append
    * mode with no watermark and no state store: each arriving image
    * emits exactly its polygon matches once. This is the ingest-time
    * "which AOIs does this new scene touch" routing stage at 10¹²-row
    * scale: static side broadcast once per micro-batch, stream side
    * never shuffles. */
  def spatialJoinStream(stream: DataFrame, polys: DataFrame,
                        res: Int = 7): DataFrame =
    graft.ops.SpatialJoin.joinRects(stream, polys, res)

  /** Event-time windowed variant with watermark (late data bounded by
    * `lateness`): (ts, x0m, y0m) → per (window, cell) counts. */
  def windowedCellCounts(stream: DataFrame, res: Int,
                         window: String, lateness: String): DataFrame = {
    val shift = CellGrid.Shift - res
    stream
      .withColumn("cell",
        shiftright(col("x0m") + CellGrid.OffX, shift) * CellGrid.IxMul +
        shiftright(col("y0m") + CellGrid.OffY, shift))
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("cell"))
      .agg(count(lit(1)).as("n_images"))
  }
}
