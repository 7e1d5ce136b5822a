package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.vec.VectorOps

/** Candidate-generation (LSH / banded-Hamming) operators: subset,
  * full-recall-in-guaranteed-regime, and measured-recall properties vs
  * their brute-force counterparts. */
class LshSpec extends SparkSuite {

  test("minhashFast == expression minhash (identical signatures)") {
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (1 to 4).map(i => r.getString(i)).toList).toMap
    val slow = sigs(TextOps.minhash(corpus, 4))
    val fast = sigs(TextOps.minhashFast(corpus, 4))
    assert(fast === slow)
    // including the <3-token edge (shingle = whole text)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val short = Seq((900L, "one two")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    assert(sigs(TextOps.minhashFast(short, 4)) === sigs(TextOps.minhash(short, 4)))
    // trailing/leading whitespace: Spark's split keeps empty tokens,
    // Java's default split drops trailing ones — the fast kernel must
    // match the expression (and the oracle) on such text too
    val ws = Seq((901L, "alpha beta gamma delta "),
                 (902L, " alpha beta"),
                 (903L, "alpha  beta gamma")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    assert(sigs(TextOps.minhashFast(ws, 4)) === sigs(TextOps.minhash(ws, 4)))
  }

  test("cosineFast kernel == cosine expression (bit-identical doubles)") {
    import org.apache.spark.sql.functions._
    graft.expr.GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .where(col("ia") < col("ib") && col("ia") < 40)
    val diff = pairs
      .withColumn("ce", VectorOps.cosine(col("ea"), col("eb")))
      .withColumn("ck", VectorOps.cosineFast(col("ea"), col("eb")))
      .where(col("ce") =!= col("ck"))
      .count()
    assert(diff == 0L)
    // null semantics: null input or length mismatch → null, no throw
    // (matches the expression, which nulls the whole zip_with fold)
    import spark.implicits._
    val odd = Seq(
      (1L, Array(1f, 2f), Array(1f, 2f)),
      (2L, null.asInstanceOf[Array[Float]], Array(1f, 2f)),
      (3L, Array(1f, 2f, 3f), Array(1f, 2f))
    ).toDF("id", "a", "b")
      .withColumn("c", VectorOps.cosineFast(col("a"), col("b")))
    val rows = odd.select("id", "c").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows(1L).isDefined && rows(2L).isEmpty && rows(3L).isEmpty)
    // a NULL ELEMENT inside the array nulls the whole result (zip_with
    // semantics — 0.0-substitution would be a silently wrong cosine),
    // and the same for lsh buckets / a too-short array
    val ne = spark.range(1)
      .select(
        array(lit(1.0f), lit(null).cast("float")).as("a"),
        array(lit(1.0f), lit(2.0f)).as("b"),
        array(lit(1.0f), lit(2.0f)).as("short"))
      .select(
        VectorOps.cosineFast(col("a"), col("b")).as("c"),
        call_function("graft_lsh_buckets", col("a"),
          lit(1), lit(2), lit(2)).as("bk_null"),
        call_function("graft_lsh_buckets", col("short"),
          lit(1), lit(2), lit(3)).as("bk_short"))
      .head()
    assert(ne.isNullAt(0), "null element must null the cosine")
    assert(ne.isNullAt(1), "null element must null the buckets")
    assert(ne.isNullAt(2), "short array must null the buckets")
  }

  test("lshBuckets kernel == expression tree (bit-identical buckets)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(VectorOps.lshBuckets(emb, 64, 4, 16)) ===
           rows(VectorOps.lshBucketsExpr(emb, 64, 4, 16)))
  }

  /** Synthetic corpus: 40 base docs of 30 deterministic tokens; docs
    * 100.. are near-copies of base docs (1 token changed) — guaranteed
    * high-Jaccard pairs. */
  private def corpus: DataFrame = {
    import spark.implicits._
    def words(seed: Long, n: Int): Seq[String] =
      (0 until n).map(i => s"w${(seed * 31 + i * 7) % 97}-${(seed + i) % 13}")
    val base = (0L until 40L).map(d => (d, words(d, 30).mkString(" ")))
    val dups = (0L until 40L).map { d =>
      val w = words(d, 30).updated(15, "CHANGED")
      (100L + d, w.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
  }

  test("jaccardPairsLsh ⊆ jaccardPairs and full recall on near-dup pairs") {
    val docs = corpus.cache()
    val exact = TextOps.jaccardPairs(docs, 0.01)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.jaccardPairsLsh(docs, 0.01)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact join rejects")
    // the injected near-dups (jac ≈ 0.87: 25 of 28+3 shingles shared)
    // collide with prob 1-(1-s)^4 per 2-hex band ≈ 1; assert ALL found
    val nearDups = (0L until 40L).map(d => (d, d + 100L)).toSet
    val exactNear = exact.intersect(nearDups)
    assert(exactNear == nearDups, "fixture near-dups missing from exact join")
    assert(nearDups.subsetOf(lsh),
      s"LSH recall on near-dups: ${nearDups.intersect(lsh).size}/${nearDups.size}")
  }

  test("banded Hamming join == brute force for distance ≤ 3 (pigeonhole)") {
    import spark.implicits._
    // hashes built from a base pattern with 0..5 bit flips
    val base = 0x5A5A1234ABCD8765L
    val rows = (0 until 200).map { i =>
      var h = base ^ (i.toLong * 0x9E3779B97F4A7C15L) // unrelated hashes
      if (i % 3 == 0) { // family: few flips from base
        h = base
        var f = 0
        while (f < i % 6) { h ^= (1L << ((i * 11 + f * 17) % 64)); f += 1 }
      }
      (s"im-$i", h)
    }
    val im = rows.toDF("image_id", "phash").cache()
    def brute(d: Int) = im.as("a").crossJoin(im.as("b"))
      .where(col("a.image_id") < col("b.image_id"))
      .where(bit_count(col("a.phash").bitwiseXOR(col("b.phash"))) <= d)
      .select(col("a.image_id"), col("b.image_id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def banded(d: Int) =
      graft.ops.Hamming.bandedPairs(im, "image_id", "phash", d)
        .select("id_a", "id_b")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b3 = brute(3)
    assert(b3.nonEmpty, "fixture produced no close pairs")
    assert(banded(3) == b3, "pigeonhole guarantee violated at d=3")
    // at d=16 banding is a candidate filter: subset of brute force
    assert(banded(16).subsetOf(brute(16)))
  }

  test("simhash banded join: subset of brute force, full recall at d<=3") {
    val docs = corpus
    val sh = TextOps.simhash(docs).cache()
    def brute(d: Int) = sh.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("simhash").as("hb")))
      .where(col("id_a") < col("id_b"))
      .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= d)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def banded(d: Int) =
      graft.ops.Hamming.bandedPairs(sh, "doc_id", "simhash", d)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-copies (1 token of 30 changed) have small simhash distance —
    // the banded join must find every d≤3 pair and never invent one
    assert(banded(3) == brute(3), "simhash pigeonhole violated at d=3")
    val b12 = brute(12)
    assert(b12.nonEmpty, "corpus fixture yielded no close simhash pairs")
    assert(banded(12).subsetOf(b12))
  }

  test("lshTopK recall vs brute-force cosineTopK on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qf = col("vec_id") < 5
    val brute = VectorOps.cosineTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = VectorOps.lshTopK(emb, 64, qf, 10, nb = 4, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    info(f"lshTopK recall@10 vs brute = $recall%.3f")
    // 16 tables × 4-bit SRP on 64-dim: measured 0.84 on this data with
    // DECORRELATED planes (the old correlated plane family reported
    // 0.86 only because its buckets were degenerate — near-total
    // candidate flood). The op is deterministic (recall is a fixed
    // value for fixed data), so the floor only guards regressions.
    assert(recall >= 0.80, f"lshTopK recall@10 = $recall%.2f")
    // every LSH hit must be a true candidate (vec in the table, not q)
    assert(lsh.forall { case (q, v) => q != v })
  }

  test("ivfTopK: cells partition the corpus; measured recall vs brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val n = emb.count()
    val qf = col("vec_id") < 5
    val brute = VectorOps.cosineTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = VectorOps.ivfTopK(emb, qf, 10, kc = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // every hit is a real vector and never the query itself
    assert(ivf.forall { case (q, v) => q != v })
    assert(ivf.nonEmpty)
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"ivfTopK recall@10 (kc=16, nprobe=4) vs brute = $recall%.3f")
    // deterministic for fixed data; floor guards regressions only
    assert(recall >= 0.60, f"ivf recall@10 = $recall%.2f")
    // probing ALL cells must recover brute force exactly (sanity: the
    // cell structure loses nothing, only the probe selection does)
    val all = VectorOps.ivfTopK(emb, qf, 10, kc = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(all == brute, "nprobe=kc must equal brute force")
    assert(n > 0)
  }

  test("ivfTopKSeeded (trained quantizer) recall >= fixed-id on a clustered corpus") {
    import spark.implicits._
    // The testdata embeddings are near-isotropic (measured within-label
    // cosine ≈ 0.01), where no quantizer choice matters — and the
    // fixed-id variant's centroids (lowest vec_ids) literally CONTAIN
    // the lowest-id queries, a degenerate advantage. Adaptivity is
    // about CLUSTERED corpora, so this spec builds one: 16
    // well-separated deterministic clusters with imbalanced sizes,
    // ids numbered so the 16 lowest vec_ids ALL fall in cluster 0 —
    // the realistic failure mode of a non-adaptive quantizer at scale
    // (ids are never uniform over a real corpus's geometry).
    def hvec(seed: Long): Array[Float] = {
      val v = Array.tabulate(64) { j =>
        var z = seed * 131071L + j * 524287L + 17L
        z *= 0x9E3779B97F4A7C15L; z ^= (z >>> 31)
        ((java.lang.Math.floorMod(z, 2001L) - 1000L) / 1000.0)
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    var id = 0L
    for (c <- 0 until 16) {
      val center = hvec(1000L + c)
      val sz = 20 + c * 15 // imbalanced: 20..245 points per cluster
      for (p <- 0 until sz) {
        val noise = hvec(10000L + c * 1000 + p)
        rows += ((id, center.zip(noise).map { case (a, b) => a + 0.7f * b }))
        id += 1
      }
    }
    val emb = rows.toSeq.toDF("vec_id", "embedding").cache()
    // queries: one point from clusters 4, 8, 12, 15 (none in cluster 0)
    val starts = (0 until 16).scanLeft(0L)((acc, c) => acc + 20 + c * 15)
    val qset = Seq(starts(4), starts(8), starts(12), starts(15))
    val qf = col("vec_id").isin(qset: _*)
    val brute = VectorOps.cosineTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      s.intersect(brute).size.toDouble / brute.size
    }
    val rFixed = recall(VectorOps.ivfTopK(emb, qf, 10, kc = 16, nprobe = 4))
    val rSeed = recall(VectorOps.ivfTopKSeeded(spark, emb, qf, 10,
      kc = 16, nprobe = 4, sampleN = 2048))
    info(f"clustered-corpus ivf recall@10: fixed-id $rFixed%.3f, trained $rSeed%.3f")
    assert(rSeed >= rFixed,
      f"trained-quantizer recall $rSeed%.3f < fixed-id $rFixed%.3f")
    assert(rSeed >= 0.8, f"trained quantizer should nail clustered data: $rSeed%.2f")
  }

  test("pqCodes kernel == naive Scala re-encode (exact integers, range)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val (dim, m, ks) = (64, 8, 16)
    val cb = VectorOps.pqCodebookFixed(emb, dim, m, ks)
    val dsub = dim / m
    val got = VectorOps.pqCodes(emb, cb, m, ks).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val raw = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(got.keySet == raw.keySet)
    raw.foreach { case (id, v) =>
      val q = v.map(graft.expr.Kernels.pqQuant)
      val want = Array.tabulate(m) { sub =>
        (0 until ks).map { c =>
          var dd = 0L
          for (i <- 0 until dsub) {
            val t = q(sub * dsub + i) - cb((sub * ks + c) * dsub + i)
            dd += t * t
          }
          (dd, c)
        }.min._2
      }
      assert(java.util.Arrays.equals(got(id), want), s"vec $id codes differ")
      got(id).foreach(c => assert(c >= 0 && c < ks))
    }
  }

  test("pqTopK: measured ADC recall vs brute-force cosineTopK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val qf = col("vec_id") < 5
    val brute = VectorOps.cosineTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = VectorOps.pqTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(f"pqTopK recall@10 (m=8, ks=16) vs brute = $recall%.3f")
    // ADC ranks by compressed L2 while brute ranks by exact cosine —
    // on the near-isotropic testdata embeddings a 64→8-code compression
    // keeps only coarse structure, so the bar is deliberately modest;
    // the clustered-corpus test below is where codebook quality shows.
    assert(recall >= 0.2, f"pq recall@10 = $recall%.2f")
    // determinism: a second run returns the identical ranking
    val pq2 = VectorOps.pqTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq2 == pq)
  }

  test("ivfAssign kernel == crossJoin+window argmax (bit-identical cells)") {
    import org.apache.spark.sql.expressions.Window
    graft.expr.GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val kc = 16
    val cents = emb.where(col("vec_id") < kc)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // the windowed argmax the kernel replaced (kept here as the spec
    // reference): max cosine, ties -> lowest cid
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val windowed = emb.crossJoin(broadcast(cents))
      .withColumn("csim", VectorOps.cosineFast(col("embedding"), col("ce")))
      .withColumn("crank", row_number().over(wAssign))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centRows = cents.orderBy("cid").collect()
    val cids = centRows.map(_.getLong(0))
    val flat = centRows.flatMap(_.getSeq[Float](1))
    val kernel = emb.select(col("vec_id"),
        element_at(lit(cids),
          call_function("graft_ivf_assign", col("embedding"), lit(flat),
            lit(kc)) + lit(1)).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == windowed)
  }

  test("ivfPqTopK: nprobe=kc degenerates to pqTopK; measured recall at nprobe=4") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val qf = col("vec_id") < 5
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // with every cell probed the candidate set is the whole corpus
    // minus self — the composed operator must equal the full-scan ADC
    val full = rows(VectorOps.ivfPqTopK(emb, qf, 10, kc = 16, nprobe = 16))
    val pq = rows(VectorOps.pqTopK(emb, qf, 10))
    assert(full == pq, "ivfPqTopK(nprobe=kc) must equal pqTopK exactly")
    // pruned probe: recall vs the full ADC ranking (cell pruning is the
    // only approximation added on top of PQ)
    val pruned = rows(VectorOps.ivfPqTopK(emb, qf, 10, kc = 16, nprobe = 4))
      .map(t => (t._1, t._3))
    val fullIds = pq.map(t => (t._1, t._3))
    val recall = pruned.intersect(fullIds).size.toDouble / fullIds.size
    info(f"ivfPqTopK recall@10 vs full-scan ADC (kc=16, nprobe=4) = $recall%.3f")
    assert(recall >= 0.5, f"ivfpq recall@10 vs ADC = $recall%.2f")
  }

  test("pqCodebookTrained (per-subspace k-means) reconstructs better than fixed-id on a clustered corpus") {
    import spark.implicits._
    // same adversarial geometry as the IVF trained-quantizer test: 16
    // well-separated clusters, ids numbered so the 16 lowest vec_ids
    // (the fixed-id codebook's source rows) ALL fall in cluster 0 —
    // a fixed-id codebook then tiles only cluster 0's subspace
    // geometry, while per-subspace k-means spreads over the corpus
    def hvec(seed: Long): Array[Float] = {
      val v = Array.tabulate(64) { j =>
        var z = seed * 131071L + j * 524287L + 17L
        z *= 0x9E3779B97F4A7C15L; z ^= (z >>> 31)
        ((java.lang.Math.floorMod(z, 2001L) - 1000L) / 1000.0)
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // L2-NORMALIZED corpus: ADC ranks by compressed L2, the ground
    // truth by cosine — on the unit sphere the two orderings agree
    // (||a-b||² = 2−2·cos), so recall measures CODEBOOK quality, not
    // metric mismatch. (This is also pqTopK's documented contract for
    // cosine retrieval: normalize first.)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    var id = 0L
    for (c <- 0 until 16) {
      val center = hvec(1000L + c)
      val sz = 20 + c * 15
      for (p <- 0 until sz) {
        val noise = hvec(10000L + c * 1000 + p)
        rows += ((id, unit(center.zip(noise).map { case (a, b) => a + 0.7f * b })))
        id += 1
      }
    }
    val emb = rows.toSeq.toDF("vec_id", "embedding").cache()
    val starts = (0 until 16).scanLeft(0L)((acc, c) => acc + 20 + c * 15)
    val qset = Seq(starts(4), starts(8), starts(12), starts(15))
    val qf = col("vec_id").isin(qset: _*)
    val brute = VectorOps.cosineTopK(emb, qf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      s.intersect(brute).size.toDouble / brute.size
    }
    // The graded criterion is QUANTIZATION (reconstruction) error — the
    // direct measure of codebook quality: Σ over the corpus of each
    // vector's exact-integer ADC distance to its own codes. (recall@10
    // is reported but not asserted between the variants: top-10 inside
    // a dense cluster is within-cluster ORDERING, which m=8 codes
    // cannot resolve for either codebook — it measures noise, exactly
    // the trap the IVF test avoids by exact re-rank inside cells.)
    val (dim, m, ks) = (64, 8, 16)
    val dsub = dim / m
    def quantErr(cb: Array[Long]): Double = {
      val raw = rows.map(_._2)
      var tot = 0.0
      raw.foreach { v =>
        val q = v.map(graft.expr.Kernels.pqQuant)
        for (sub <- 0 until m) {
          var best = Long.MaxValue
          for (c <- 0 until ks) {
            var dd = 0L
            for (i <- 0 until dsub) {
              val t = q(sub * dsub + i) - cb((sub * ks + c) * dsub + i)
              dd += t * t
            }
            if (dd < best) best = dd
          }
          tot += best.toDouble
        }
      }
      tot / raw.length
    }
    val errFixed = quantErr(VectorOps.pqCodebookFixed(emb, dim, m, ks))
    val errTrained = quantErr(VectorOps.pqCodebookTrained(emb, dim, m, ks,
      sampleN = 2048))
    info(f"clustered-corpus pq quantization error: fixed-id $errFixed%.4g, " +
      f"trained $errTrained%.4g (ratio ${errFixed / errTrained}%.2f×)")
    assert(errTrained < errFixed,
      f"trained codebook must reconstruct better: $errTrained%.4g vs $errFixed%.4g")
    val rFixed = recall(VectorOps.pqTopK(emb, qf, 10))
    val rTrained = recall(VectorOps.pqTopKTrained(emb, qf, 10, sampleN = 2048))
    info(f"clustered-corpus pq recall@10: fixed-id $rFixed%.3f, trained $rTrained%.3f")
    // m=8 codes can't resolve within-cluster ORDER (see above), but a
    // working trained ranking must still land some of the true top-10
    assert(rTrained > 0.0,
      f"trained-codebook ADC ranking found nothing: recall $rTrained%.3f")
  }

  test("embNearDupLsh ⊆ exact near-dup pairs (cosine verify is exact)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val exact = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .where(VectorOps.cosine(col("ea"), col("eb")) > 0.35)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lsh = VectorOps.embNearDupLsh(emb, 64, 0.35, nb = 4, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty, "LSH near-dup found nothing on real embeddings")
  }

  test("full-signature band keys keep text candidate generation sub-quadratic") {
    import spark.implicits._
    // 3000 docs over a SHARED vocabulary (every token appears in ~30
    // docs) — the adversarial case for fixed-width band keys: a 2-char
    // prefix key (256 buckets) would produce Θ(N²/256) ≈ 17.5k pairs
    // per band; the full-signature key only pairs docs sharing a
    // minimum SHINGLE.
    val n = 3000
    val docs = (0L until n.toLong).map { d =>
      val w = (0 until 30).map(i => s"t${(d * 17 + i * i * 13) % 400}")
      (d, w.mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val cand = TextOps.jaccardCandidatesLsh(docs).count()
    val quadratic = n.toLong * (n - 1) / 2
    info(s"candidates: $cand of $quadratic possible pairs")
    assert(cand < 8L * n,
      s"candidate generation not sub-quadratic: $cand pairs for $n docs")
  }

  test("nbForCorpus sizes SRP buckets so candidates stay sub-quadratic") {
    // formula sanity: buckets track corpus size
    assert(VectorOps.nbForCorpus(1000000000000L, 1024) == 30)
    assert(VectorOps.nbForCorpus(100, 1024) == 6)
    // measured on an ISOTROPIC corpus (deterministic hash components —
    // a diverse web corpus, not the 4-label-clustered test table where
    // near-total collision is the CORRECT answer): growing nb with the
    // corpus shrinks the candidate set; at the corpus-sized nb the
    // join is far from quadratic.
    import spark.implicits._
    val n = 2000
    val emb = (0L until n.toLong).map { i =>
      (i, Array.tabulate(64)(j =>
        (((i * 2654435761L + j * 40503L + (i * j) % 997) % 1001) - 500)
          .toFloat / 500f))
    }.toDF("vec_id", "embedding").cache()
    def cand(nb: Int): Long = {
      val b = VectorOps.lshBuckets(emb, 64, nb, tables = 4)
      b.select(col("vec_id").as("id_a"), col("tj"), col("bk"))
        .join(b.select(col("vec_id").as("id_b"), col("tj"), col("bk")),
          Seq("tj", "bk"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().count()
    }
    val quadratic = n.toLong * (n - 1) / 2
    val nbCorpus = VectorOps.nbForCorpus(n.toLong, targetBucket = 8)
    val c6 = cand(6); val cCorpus = cand(nbCorpus)
    info(s"n=$n: nb=6 → $c6, nb=$nbCorpus → $cCorpus of $quadratic pairs")
    assert(cCorpus < c6, "growing nb must shrink the candidate set")
    assert(cCorpus < quadratic / 4,
      s"corpus-sized nb=$nbCorpus left candidate generation near-quadratic")
  }

  test("semDeDup: exact path prunes planted near-dups; LSH path survivors are a superset") {
    import spark.implicits._
    import graft.vec.VectorOps
    // 3 well-separated clusters of 6 vectors each; within each
    // cluster, vectors are tiny perturbations of the same direction →
    // cosine ≈ 1 within, ≈ 0 across. SemDeDup must keep exactly the
    // lowest id per cluster on the exact path.
    def v(c: Int, j: Int): Array[Float] = {
      val base = Array.tabulate(64)(i => if (i % 3 == c) 1.0f else 0.0f)
      base(60 + c) = 0.001f * j // perturbation, keeps cosine ≈ 1
      val n = math.sqrt(base.map(x => x.toDouble * x).sum)
      base.map(x => (x / n).toFloat)
    }
    // id = j*3 + c so the 3 seed ids (0,1,2) span the 3 directions —
    // Lloyd then converges to the true clusters deterministically
    val rows = for (c <- 0 until 3; j <- 0 until 6)
      yield ((j * 3 + c).toLong, v(c, j))
    val emb = rows.toDF("vec_id", "embedding")
    val exact = VectorOps.semDeDup(spark, emb, 3, 3, 0.9)
      .collect().map(_.getLong(0)).toSet
    // survivors: one per near-dup group; groups here == clusters, and
    // the keep rule is lowest id
    assert(exact == Set(0L, 1L, 2L), s"exact survivors: $exact")
    // the LSH candidate path can only MISS dup pairs (recall < 1), so
    // its survivor set must be a superset of the exact one
    val lsh = VectorOps.semDeDup(spark, emb, 3, 3, 0.9,
      exactPairs = false).collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(lsh), s"lsh=$lsh must contain exact=$exact")
  }

  test("persisted IVF index: probe == direct ivfTopK; rebuild is a no-op") {
    import graft.vec.VectorOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_idx").toString
    VectorOps.buildIvfIndex(spark, emb, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = rows(VectorOps.ivfTopK(emb, col("vec_id") < 3, 10))
    val probed = rows(VectorOps.probeIvfIndex(spark, root,
      emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")), 10))
    assert(probed == direct, "index probe diverged from direct IVF")
    // fully-committed index: rebuild writes zero new buckets
    assert(graft.table.Lineage.writeResumable(spark,
      emb.limit(0).select(col("vec_id"), col("embedding"),
        lit(0L).as("cid")), s"$root/postings", "cid", 8) == 0)
  }

  test("incremental dedup batch path: broadcast probe, no corpus shuffle join") {
    import spark.implicits._
    val docs = corpus
    val corp = docs.where(col("doc_id") % 10 =!= 7)
    val delta = docs.where(col("doc_id") % 10 === 7)
    // the ingest-loop contract: corpus bands precomputed ONCE,
    // per-batch plan broadcast-joins the delta side into them
    val bands = TextOps.bandTable(corp).cache()
    bands.count()
    val inc = TextOps.jaccardPairsIncrementalBands(bands, corp, delta, 0.01)
    val plan = inc.queryExecution.executedPlan.toString
    // every join is broadcast (band probe + both verify fetches) —
    // a SortMergeJoin would mean the corpus got exchanged per batch
    assert(!plan.contains("SortMergeJoin"),
      s"batch path must not sort-merge the corpus:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    // and it returns exactly what the inline (corpus-recomputing)
    // wrapper returns
    def rows(df: DataFrame) = df.orderBy("id_new", "id_old").collect().toSeq
    assert(rows(inc) ==
      rows(TextOps.jaccardPairsIncremental(corp, delta, 0.01)))
    bands.unpersist()
  }
}
