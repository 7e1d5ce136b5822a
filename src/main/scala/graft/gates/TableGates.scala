package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.gen.OracleCte.{hx, images => I}

/** The table gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object TableGates {


  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // ---- lineage / resumable table (rows-only; hash bucketing is
    // Spark-murmur3, not SQL-reproducible) ----
    Gate("q_lineage_metrics", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_q").toString
      graft.table.Lineage.writeResumable(s,
        Synth.images(s, dir).select("image_id", "k", "w", "h"), root, "image_id", 8)
      // resume is a no-op on a committed table
      assert(graft.table.Lineage.writeResumable(s,
        Synth.images(s, dir).select("image_id", "k", "w", "h"), root, "image_id", 8) == 0)
      // compaction (snapshot-swap to gen 1) must preserve every row
      val before = graft.table.Lineage.read(s, root).count()
      graft.table.Lineage.compact(s, root, maxFiles = 1)
      assert(graft.table.Lineage.read(s, root).count() == before)
      // per-bucket row counts are DISTINCT over commit lines (gens
      // repeat the same rows; whether compaction fired depends on the
      // file layout, so the gen column itself is not oracle-stable) —
      // the counts are pure murmur3(image_id) bucketing, which the
      // DuckDB oracle replays bit-exactly
      graft.table.Lineage.metrics(s, root)
        .select(col("part").cast("long").as("part"), col("rows"))
        .distinct()
        .orderBy("part")
    },
      Some {
      val W = 4294967296L
      def mul(e: String, c: Long): String =
        s"CAST((CAST($e AS HUGEINT) * $c) % $W AS BIGINT)"
      def mix(h: String, k: String): String = {
        val k1 = mul(s"($k)", 3432918353L)
        val k1r = s"(($k1 << 15) % $W | ($k1 >> 17))"
        val k1m = mul(k1r, 461845907L)
        val hx = s"(xor($h, $k1m))"
        val hr = s"((($hx << 13) % $W) | ($hx >> 19))"
        s"CAST((CAST($hr AS HUGEINT) * 5 + 3864292196) % $W AS BIGINT)"
      }
      s"""WITH i0 AS (SELECT CAST(p_partkey AS BIGINT) AS k,
         |  'img-' || CAST(p_partkey AS VARCHAR) AS s FROM part),
         |i1 AS (SELECT k, s, LENGTH(s) AS n,
         |  list_transform(generate_series(1, LENGTH(s)),
         |    i -> CAST(ascii(substr(s, i, 1)) AS BIGINT)) AS b
         |  FROM i0),
         |mh0 AS (SELECT *, CAST(42 AS BIGINT) AS h FROM i1),
         |mh1 AS (SELECT k, n, b, CASE WHEN n >= 4 THEN
         |    ${mix("h", "b[1] + 256*b[2] + 65536*b[3] + 16777216*b[4]")}
         |  ELSE h END AS h FROM mh0),
         |mh2 AS (SELECT k, n, b, CASE WHEN n >= 8 THEN
         |    ${mix("h", "b[5] + 256*b[6] + 65536*b[7] + 16777216*b[8]")}
         |  ELSE h END AS h FROM mh1),
         |mh3 AS (SELECT k, n, b, CASE WHEN n >= 12 THEN
         |    ${mix("h", "b[9] + 256*b[10] + 65536*b[11] + 16777216*b[12]")}
         |  ELSE h END AS h FROM mh2),
         |mt1 AS (SELECT k, n, b, CASE WHEN n % 4 >= 1 THEN
         |    ${mix("h", "b[n - n % 4 + 1]")}
         |  ELSE h END AS h FROM mh3),
         |mt2 AS (SELECT k, n, b, CASE WHEN n % 4 >= 2 THEN
         |    ${mix("h", "b[n - n % 4 + 2]")}
         |  ELSE h END AS h FROM mt1),
         |mt3 AS (SELECT k, n, b, CASE WHEN n % 4 >= 3 THEN
         |    ${mix("h", "b[n - n % 4 + 3]")}
         |  ELSE h END AS h FROM mt2),
         |mf1 AS (SELECT k, xor(h, n) AS h FROM mt3),
         |mf2 AS (SELECT k, xor(h, h >> 16) AS h FROM mf1),
         |mf3 AS (SELECT k, ${mul("h", 2246822507L)} AS h FROM mf2),
         |mf4 AS (SELECT k, xor(h, h >> 13) AS h FROM mf3),
         |mf5 AS (SELECT k, ${mul("h", 3266489909L)} AS h FROM mf4),
         |mf6 AS (SELECT k, xor(h, h >> 16) AS h FROM mf5),
         |mf7 AS (SELECT k, CASE WHEN h >= 2147483648 THEN h - 4294967296
         |  ELSE h END AS hs FROM mf6)
         |SELECT CAST(((hs % 8) + 8) % 8 AS BIGINT) AS part,
         |  CAST(COUNT(*) AS BIGINT) AS rows
         |FROM mf7 GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ZONE-MAP pruned range scan (Iceberg lower/upper-bounds stats):
    // the table is range-bucketed on k, each commit line carries the
    // bucket's exact [lo, hi], and the scan reads ONLY overlapping
    // buckets — asserted strictly narrower than the full table before
    // the result is returned. Pruning is transparent to the rows, so
    // the oracle is the plain range filter.
    Gate("q_lineage_range", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_rng_q").toString
      graft.table.Lineage.writeRangeResumable(s,
        Synth.images(s, dir).select("image_id", "k", "w", "h"), root, "k", 8)
      val (sel, total) = graft.table.Lineage.prunedParts(root, 50, 150)
      assert(sel.size < total, s"zone maps must prune: ${sel.size}/$total")
      graft.table.Lineage.readRange(s, root, "k", 50, 150)
        .select(col("image_id"), col("k"), col("w"), col("h"))
        .orderBy("k")
    },
      // LINEAGE bucketing ground truth — Spark's Murmur3_x86_32 (seed
      // 42, word pass + per-byte tail, fmix) replayed in SQL with
      // HUGEINT modular 32-bit arithmetic: per-bucket row counts are
      // pmod(murmur3(image_id), 8) group sizes, bit-exact
      // pruned scans are transparent to the result set: the oracle is
      // the plain predicate over the full table (the PRUNING itself is
      // asserted engine-side before the rows come back)
      Some(s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE k BETWEEN 50 AND 150 ORDER BY k""".stripMargin)),

    // Equality BUCKET-PRUNING point lookups on the hash layout
    // (Iceberg bucket-transform partition pruning): each lookup
    // recomputes the writer's bucket and opens that one directory
    Gate("q_lineage_lookup", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_pt_q").toString
      graft.table.Lineage.writeResumable(s,
        Synth.images(s, dir).select("image_id", "k", "w", "h"), root, "image_id", 8)
      Seq("img-3", "img-77", "img-150")
        .map(id => graft.table.Lineage.readForKey(s, root, "image_id", id, 8))
        .reduce(_ unionByName _)
        .select(col("image_id"), col("k"), col("w"), col("h"))
        .orderBy("k")
    },
      Some(s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE image_id IN ('img-3', 'img-77', 'img-150')
         |ORDER BY k""".stripMargin)),

    // Copy-on-write MERGE (Iceberg MERGE INTO): a small delta (2
    // updates + 2 inserts) upserts into the committed table; the
    // rewrite is BUCKET-PRUNED (asserted strictly fewer buckets than
    // the table has) and the oracle replays plain merge semantics
    Gate("q_lineage_merge", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_mrg_q").toString
      val base = Synth.images(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(s, base, root, "image_id", 8)
      import s.implicits._
      val upd = base.where(col("image_id").isin("img-3", "img-77"))
        .withColumn("w", col("w") + 1000)
      val ins = Seq(("img-new-1", 9000001L, 42L, 24L),
                    ("img-new-2", 9000002L, 50L, 30L))
        .toDF("image_id", "k", "w", "h")
      val rewritten = graft.table.Lineage.merge(
        s, upd.unionByName(ins), root, "image_id", 8)
      assert(rewritten > 0 && rewritten < 8,
        s"merge must bucket-prune: rewrote $rewritten/8")
      // a second identical merge converges (idempotent upsert)
      graft.table.Lineage.merge(s, upd.unionByName(ins), root, "image_id", 8)
      graft.table.Lineage.read(s, root)
        .select("image_id", "k", "w", "h").orderBy("k", "image_id")
    },
      // MERGE semantics replayed plainly: delta rows win on key match,
      // unmatched delta rows insert, everything else passes through
      // (the engine-side bucket pruning is asserted before rows return)
      Some(s"""WITH $I,
         |base AS (SELECT image_id, k, w, h FROM img2),
         |delta AS (
         |  SELECT image_id, k, w + 1000 AS w, h FROM base
         |  WHERE image_id IN ('img-3', 'img-77')
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    ('img-new-1', CAST(9000001 AS BIGINT),
         |     CAST(42 AS BIGINT), CAST(24 AS BIGINT)),
         |    ('img-new-2', CAST(9000002 AS BIGINT),
         |     CAST(50 AS BIGINT), CAST(30 AS BIGINT))
         |  ) v(image_id, k, w, h)),
         |merged AS (
         |  SELECT * FROM delta
         |  UNION ALL
         |  SELECT * FROM base
         |  WHERE image_id NOT IN (SELECT image_id FROM delta))
         |SELECT image_id, k, w, h FROM merged
         |ORDER BY k, image_id""".stripMargin)),

    // Copy-on-write row-level DELETE by key, bucket-pruned like merge
    Gate("q_lineage_delete", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_del_q").toString
      val base = Synth.images(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(s, base, root, "image_id", 8)
      import s.implicits._
      val keys = Seq("img-5", "img-150", "img-absent").toDF("image_id")
      val rewritten = graft.table.Lineage.deleteKeys(
        s, keys, root, "image_id", 8)
      assert(rewritten > 0 && rewritten < 8,
        s"delete must bucket-prune: rewrote $rewritten/8")
      graft.table.Lineage.read(s, root)
        .select("image_id", "k", "w", "h").orderBy("k")
    },
      Some(s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE image_id NOT IN ('img-5', 'img-150', 'img-absent')
         |ORDER BY k""".stripMargin)),

    // SCHEMA EVOLUTION (Iceberg ALTER TABLE): metadata-only add /
    // rename / drop, then a post-evolution MERGE so old-schema and
    // new-schema files genuinely coexist on disk — the read
    // reconciles both vintages (mergeSchema + evolution-log replay)
    Gate("q_lineage_evolve", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_evo_q").toString
      val base = Synth.images(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(s, base, root, "image_id", 8)
      graft.table.Lineage.addColumn(root, "label", "string",
        Some("unlabeled"))
      graft.table.Lineage.renameColumn(root, "h", "height")
      graft.table.Lineage.dropColumn(root, "w")
      import s.implicits._
      // delta arrives in the EVOLVED schema; its buckets rewrite in
      // that physical schema while unaffected buckets keep the old one
      val delta = Seq(("img-new-9", 9000009L, 64L, "fresh"))
        .toDF("image_id", "k", "height", "label")
      val rewritten = graft.table.Lineage.merge(
        s, delta, root, "image_id", 8)
      assert(rewritten > 0 && rewritten < 8)
      graft.table.Lineage.read(s, root)
        .select("image_id", "k", "height", "label").orderBy("k")
    },
      // evolution replayed plainly: h renamed, w dropped, label added
      // with its default for pre-evolution rows; the merged delta row
      // carries its own label
      Some(s"""WITH $I,
         |evolved AS (
         |  SELECT image_id, k, h AS height, 'unlabeled' AS label
         |  FROM img2
         |  UNION ALL
         |  SELECT 'img-new-9', CAST(9000009 AS BIGINT),
         |         CAST(64 AS BIGINT), 'fresh')
         |SELECT image_id, k, height, label FROM evolved
         |ORDER BY k""".stripMargin)),

    // INCREMENTAL (CDC) consumption of the streaming epoch-sink
    // layout: two committed epochs, cursor after epoch 0 → exactly
    // epoch 1's rows come back (Iceberg incremental append scan)
    Gate("q_lineage_cdc", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lineage_cdc_q").toString
      val base = Synth.images(s, dir).select("image_id", "k", "w", "h")
      graft.table.Lineage.writeResumable(
        s, base.where(col("k") % 2 === 0), s"$root/epoch=0", "image_id", 4)
      graft.table.Lineage.writeResumable(
        s, base.where(col("k") % 2 === 1), s"$root/epoch=1", "image_id", 4)
      assert(graft.streaming.CellStream.latestLineageEpoch(root) == 1L)
      // the full-history read still sees every row
      assert(graft.streaming.CellStream.readLineageEpochs(s, root).count()
        == base.count())
      graft.streaming.CellStream.readLineageEpochsSince(s, root, 0L)
        .select("image_id", "k", "w", "h").orderBy("k")
    },
      Some(s"""WITH $I
         |SELECT image_id, k, w, h FROM img2
         |WHERE k % 2 = 1 ORDER BY k""".stripMargin))
  )
}
