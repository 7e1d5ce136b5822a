package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.vec.VectorOps

/** Curation-pipeline operators (vocab, n-grams, split, quantization):
  * exact counts on a hand-checked corpus plus structural invariants. */
class PipelineOpsSpec extends SparkSuite {

  private def docs = {
    import spark.implicits._
    Seq((0L, "a b a c"), (1L, "a b"), (2L, "c"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
  }

  test("vocab: df/cf exact, cf-desc term-asc order") {
    val v = TextOps.vocab(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toSeq == Seq(("a", 2L, 3L), ("b", 2L, 2L), ("c", 2L, 2L)))
  }

  test("ngramCounts: bigrams exact, short docs contribute none") {
    val g = TextOps.ngramCounts(docs, 2, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(g == Map("a b" -> 2L, "b a" -> 1L, "a c" -> 1L))
  }

  test("splitAssign: deterministic, bucket bound respects permille") {
    import spark.implicits._
    val many = (0L until 2000L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val s1 = TextOps.splitAssign(many, 250).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val s2 = TextOps.splitAssign(many.repartition(7), 250).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(s1.sortBy(_._1).sameElements(s2.sortBy(_._1)),
      "split must not depend on partitioning")
    s1.foreach { case (_, b, sp) =>
      assert(b >= 0 && b < 65536)
      assert((sp == "val") == (b * 1000 < 250 * 65536))
    }
    val frac = s1.count(_._3 == "val").toDouble / s1.length
    assert(math.abs(frac - 0.25) < 0.05, s"val fraction $frac")
  }

  test("scrub: email/url tokens redacted, plain tokens untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "write to a.b@mail.example or https://x.y/z soon"),
      (2L, "nothing to redact here at all"),
      (3L, "www.site.org plus email@d.com plus http://p.q end"),
      (4L, "edge @ cases like user@nodot and www stay")) // no redaction
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val out = graft.text.TextOps.scrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("write to <EMAIL> or <URL> soon", 2L))
    assert(out(2L) == ("nothing to redact here at all", 0L))
    assert(out(3L) == ("<URL> plus <EMAIL> plus <URL> end", 3L))
    // '@' without a dot after it and bare 'www' are NOT redacted
    assert(out(4L) == ("edge @ cases like user@nodot and www stay", 0L))
  }

  test("kmeansEmbeddingsExact: identical assignments under any partitioning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Algorithms.kmeansEmbeddingsExact(spark, df, 4, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(emb)
    val b = run(emb.repartition(13))
    assert(a === b, "integer sums make the clustering partition-order-independent")
    assert(a.values.toSet.size > 1, "fixture should use more than one cluster")
  }

  test("quantizeInt8: range bound, sign preserved, max element hits ±127") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 1.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(emb).collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Int](2).toArray)).sortBy(_._1)
    // v0: scale 1.0 → floor(127*[0.5,-1,0.25]) = [63, -127, 31]
    assert(q(0)._2 == 1.0 && q(0)._3.sameElements(Array(63, -127, 31)))
    // zero vector → zero q, scale 0
    assert(q(1)._2 == 0.0 && q(1)._3.forall(_ == 0))
    // v2: scale 2 → [127, 63, floor(-31.75)= -32]
    assert(q(2)._2 == 2.0 && q(2)._3.sameElements(Array(127, 63, -32)))
    q.foreach(_._3.foreach(x => assert(x >= -127 && x <= 127)))
  }

  test("sampleStratified: per-stratum rates, salt independence, stability") {
    import spark.implicits._
    val many = (0L until 4000L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")))
    val rates = Seq("en" -> 500, "de" -> 100)
    val s1 = TextOps.sampleStratified(many, rates, "s").collect()
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    val s2 = TextOps.sampleStratified(many.repartition(7), rates, "s")
      .collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    assert(s1.sameElements(s2), "sample must not depend on partitioning")
    val en = s1.count(_._2 == "en").toDouble / 2000
    val de = s1.count(_._2 == "de").toDouble / 2000
    assert(math.abs(en - 0.5) < 0.05, s"en rate $en")
    assert(math.abs(de - 0.1) < 0.03, s"de rate $de")
    // unlisted stratum drops entirely
    val zh = TextOps.sampleStratified(
      many.withColumn("lang", lit("zh")), rates, "s")
    assert(zh.count() == 0L)
    // a different salt redraws: overlap ≈ rate², not ≈ rate
    val s3 = TextOps.sampleStratified(many, rates, "t").collect()
      .map(_.getLong(0)).toSet
    val enOverlap = s1.filter(_._2 == "en").map(_._1).count(s3.contains)
    assert(enOverlap < 0.35 * 2000, s"salted redraw should be independent")
  }

  test("packSequences: per-shard intervals are contiguous and exact") {
    import spark.implicits._
    val many = (0L until 300L).map(i =>
      (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val p = TextOps.packSequences(many, budget = 16, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(p.length == 300)
    p.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1) // doc_id order within shard
      var off = 0L
      sorted.foreach { case (_, _, n, start, first, last) =>
        assert(start == off, "intervals must be gap-free and disjoint")
        assert(first == start / 16 && last == (start + n - 1) / 16)
        off += n
      }
    }
    // reshuffle-stable (offsets depend only on (shard, doc_id) order)
    val p2 = TextOps.packSequences(many.repartition(11), 16, 4).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    p.foreach { case (id, _, _, start, _, _) => assert(p2(id) == start) }
  }

  test("decontaminate: threshold, self-exclusion, broadcast plan") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),   // benchmark (0%1? use %3)
      (3L, "alpha beta gamma zeta eta"),        // benchmark
      (1L, "alpha beta gamma delta xi"),        // shares 2 grams w/ doc 0
      (2L, "alpha beta gamma omicron pi"),      // 1 gram each — below thr
      (4L, "totally different words here now")) // no overlap
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val bench = corpus.where(col("doc_id") % 3 === 0)
    val out = TextOps.decontaminate(corpus, bench, n = 3, minHits = 2)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 vs bench 0: shares "alpha beta gamma" + "beta gamma delta"
    assert(rows.contains((1L, 0L, 2L)))
    // no self-pairs even though bench ⊂ corpus
    assert(!rows.exists(r => r._1 == r._2))
    // doc 2 shares only 1 distinct gram with each bench doc
    assert(!rows.exists(_._1 == 2L))
    assert(!rows.exists(_._1 == 4L))
    // benchmark grams must broadcast: corpus side stays shuffle-free
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("packShards: greedy fit, contiguous offsets, oversize isolation") {
    import spark.implicits._
    val budget = 100L
    val imgs = (0L until 60L).map { i =>
      // sizes 10..250: some oversized relative to the budget
      (f"im-$i%03d", Array.fill(((i * 37 % 25 + 1) * 10).toInt)(0.toByte))
    }.toDF("image_id", "bytes")
    val out = graft.ops.Sharding.packShards(imgs, budget, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == 60)
    out.groupBy(x => (x._2, x._4)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      // offsets are the running byte layout, starting at 0
      var off = 0L
      sorted.foreach { case (_, _, n, _, o) => assert(o == off); off += n }
      // a shard only exceeds the budget when a single item does
      assert(off <= budget || rows.length == 1)
    }
    // greedy: consecutive shards per writer, no empty shard ids
    out.groupBy(_._2).foreach { case (_, rows) =>
      val shards = rows.map(_._4).distinct.sorted
      assert(shards.sameElements(0L until shards.length))
    }
    // reshuffle-stable
    val out2 = graft.ops.Sharding.packShards(imgs.repartition(7), budget, 3)
      .collect().map(r => (r.getString(0), (r.getLong(3), r.getLong(4)))).toMap
    out.foreach { case (id, _, _, sh, o) => assert(out2(id) == ((sh, o))) }
  }

  test("validate: exact violation counts on a hand-corrupted table") {
    import spark.implicits._
    val d = Seq(
      (1L, "good text", "en"), (2L, "also fine", "de"),
      (3L, "", "en"),                    // empty text
      (4L, "bad count", "fr"), (4L, "bad count", "fr"), // dup id ×2 extra? no, 1 extra
      (5L, "wrong lang", "tlh"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars",
        when(col("doc_id") === 4, lit(999)).otherwise(length(col("text"))))
    val v = TextOps.validate(d, Seq("en", "de", "fr")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(v("bad_n_chars") == 2L) // both doc-4 rows
    assert(v("bad_lang") == 1L)
    assert(v("empty_text") == 1L)
    assert(v("dup_doc_ids") == 1L) // one row beyond the first for id 4
  }

  test("incremental dedup == full LSH pairs restricted to delta x corpus") {
    import spark.implicits._
    val docs = (0L until 120L).map { i =>
      val base = s"tok${i % 8} alpha beta gamma delta epsilon zeta"
      (i, if (i % 3 == 0) base else s"$base extra${i}")
    }.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val delta = docs.where(col("doc_id") % 10 === 7)
    val corpus = docs.where(col("doc_id") % 10 =!= 7)
    val inc = TextOps.jaccardPairsIncremental(corpus, delta, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = TextOps.jaccardPairsLsh(docs, 0.2).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
                        (r.getLong(1), r.getLong(0))))
      .filter { case (n, o) => n % 10 == 7 && o % 10 != 7 }.toSet
    assert(inc == full, s"inc=${inc.size} full=${full.size}")
    assert(inc.nonEmpty)
  }

  test("epochShuffle: dense per-shard positions, epoch redraw, stability") {
    import spark.implicits._
    val many = (0L until 1000L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val e2 = TextOps.epochShuffle(many, epoch = 2, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e2.length == 1000)
    // positions are a dense 0..n-1 enumeration within each shard
    e2.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(0L until rows.length))
    }
    // another epoch is a different permutation (order redrawn)
    val e3 = TextOps.epochShuffle(many, epoch = 3, nShards = 4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val moved = e2.count { case (id, sh, pos) => e3(id) != ((sh, pos)) }
    assert(moved > 900, s"epoch redraw should move nearly all docs ($moved)")
    // reshuffle-stable
    val e2b = TextOps.epochShuffle(many.repartition(13), 2, 4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    e2.foreach { case (id, sh, pos) => assert(e2b(id) == ((sh, pos))) }
  }

  test("sampleWeighted: weight-biased, reshuffle-stable, salt redraws") {
    import spark.implicits._
    // 9000 docs of weight 1, 1000 of weight 10 (10% of docs, ~53% of
    // total weight) — the heavy group must be strongly overrepresented
    val many = spark.range(0, 10000)
      .select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, 10L).otherwise(1L).as("wt"))
    val top = TextOps.sampleWeighted(many, col("wt"), 1000)
    val heavy = top.filter(col("w") === 10).count()
    assert(heavy > 300,
      s"heavy docs are 10% of rows but got only $heavy/1000 slots")
    // reshuffle-stable: identical winner set from any partitioning
    val ids = top.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = TextOps.sampleWeighted(many.repartition(17), col("wt"), 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ids2)
    // a different salt redraws an independent sample
    val ids3 = TextOps.sampleWeighted(many, col("wt"), 1000, salt = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((ids intersect ids3).size < 900)
  }

  test("bpeTrain: hand-checked merges incl. the overlap (aaa) rule") {
    import spark.implicits._
    // corpus: 'low' ×3, 'lower' ×1, 'aaa' ×2.
    // pair counts r1: (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1, (a,a)=4.
    // ties at 4 -> lexicographically smallest pair: (a,a).
    // greedy overlap rule: 'aaa' = |a||a||a| merges the FIRST two only
    // -> |aa||a| (Sennrich semantics), so r2 counts (aa,a)=2 not 4.
    val d = Seq((0L, "low low aaa"), (1L, "low lower aaa"))
      .toDF("doc_id", "text")
    val (merges, words) = TextOps.bpeTrain(d, 3)
    val m = merges.orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ((1L, "a", "a", 4L)), s"round1 was ${m(0)}")
    // r2: (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1, (aa,a)=2 -> tie (l,o) vs
    // (o,w) at 4 -> (l,o)
    assert(m(1) == ((2L, "l", "o", 4L)), s"round2 was ${m(1)}")
    // r3: (lo,w)=4, (w,e)=1, (e,r)=1, (aa,a)=2 -> (lo,w)
    assert(m(2) == ((3L, "lo", "w", 4L)), s"round3 was ${m(2)}")
    val w = words.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(w("low") == "|low|")
    assert(w("lower") == "|low||e||r|")
    assert(w("aaa") == "|aa||a|")
    // encoder: doc 0 = low(1) low(1) aaa(2) = 3 words, 4 tokens;
    // doc 1 = low(1) lower(3) aaa(2) = 3 words, 6 tokens
    val enc = TextOps.bpeEncodeStats(d, 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.toSeq == Seq((0L, 3L, 4L), (1L, 3L, 6L)))
  }

  test("dupSpans: hand-checked islands incl. within-doc repeat split") {
    import spark.implicits._
    // L=2 grams: "x y" occurs 3× (doc0@0, doc1@1, doc1@5), "y z" 2×
    // (doc0@1, doc1@2); everything else is unique. doc1's duplicated
    // window starts {1,2,5} must split into TWO islands (gap 5-2=3 >
    // L), exercising the maximal-span merge and the within-doc repeat
    // path; doc2 has no duplicated window and must emit nothing.
    val d = Seq(
      (0L, "x y z w q"),
      (1L, "a x y z b x y"),
      (2L, "p q r s")).toDF("doc_id", "text")
    val got = TextOps.dupSpans(d, 2).orderBy("doc_id", "span_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (0L, 1L, 0L, 2L, 3L, 2L),
      (1L, 1L, 1L, 3L, 3L, 2L),
      (1L, 2L, 5L, 6L, 2L, 1L)))
  }

  test("dupSpans: gram frequency is a partial aggregate + semi-join, not a per-gram window") {
    import spark.implicits._
    // the 100 TB skew case: a boilerplate gram with 10⁹ occurrences.
    // count-over-window(PARTITION BY gh) puts them all in ONE window
    // partition (one hot task); the contract plan is groupBy-count
    // (map-side partials bound the reducer input) + a LeftSemi join,
    // which AQE can skew-split. Assert the plan shape so a future
    // "simplification" back to the window can't land silently.
    val d = Seq((0L, "x y z w q"), (1L, "a x y z b x y"))
      .toDF("doc_id", "text")
    val plan = TextOps.dupSpans(d, 2).queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(gh"),
      s"gram frequency must not be a per-gram window:\n$plan")
    assert(plan.contains("LeftSemi"), plan)
    // the per-doc island window is still there (bounded by doc length)
    assert(plan.contains("windowspecdefinition(doc_id"), plan)
  }

  test("dupSpans: exact-duplicate docs are fully covered") {
    import spark.implicits._
    // two verbatim copies → every window duplicated → exactly one
    // maximal span per doc spanning all tokens (seed-recall property:
    // a repeated substring of length >= L is always found)
    val d = Seq((0L, "m n o p q r"), (1L, "m n o p q r"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpans(d, 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((0L, 0L, 5L, 6L), (1L, 0L, 5L, 6L)))
  }

  test("winnow: every window covered; shared substring shares a print") {
    import spark.implicits._
    // d0 and d1 share the 7-token run "p q r s t u v" >= w+k-1 = 6,
    // so the SIGMOD-2003 guarantee demands a shared fingerprint hash
    val d = Seq(
      (0L, "p q r s t u v w"),
      (1L, "z z x p q r s t u v y"),
      (2L, "a b")).toDF("doc_id", "text")
    val fp = TextOps.winnow(d, 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // doc2 is shorter than w+k-1 → no full window → nothing emitted
    assert(!fp.exists(_._1 == 2L))
    // dedup: no repeated (doc, pos)
    assert(fp.map(t => (t._1, t._2)).distinct.length == fp.length)
    // coverage: every full window of w=4 gram positions contains a
    // selected position (the winnowing density invariant)
    val nPos = Map(0L -> 6, 1L -> 9) // tokens - k + 1
    for ((doc, np) <- nPos; i <- 0 to np - 4) {
      val sel = fp.filter(_._1 == doc).map(_._2)
      assert(sel.exists(p => p >= i && p <= i + 3),
        s"doc $doc window $i uncovered")
    }
    // guarantee: shared >= w+k-1 substring ⇒ shared fingerprint hash
    val h0 = fp.filter(_._1 == 0L).map(_._3).toSet
    val h1 = fp.filter(_._1 == 1L).map(_._3).toSet
    assert((h0 & h1).nonEmpty, "shared run must share a fingerprint")
  }

  test("dupSpanScrub: corpus-first occurrence survives, others excised") {
    import spark.implicits._
    // same corpus as the dupSpans island test: doc0 owns the corpus-
    // first "x y" (0,0) so its span is KEPT; both doc1 spans lead with
    // "x y" occurrences (1,1)/(1,5) and are excised; doc2 untouched
    val d = Seq(
      (0L, "x y z w q"),
      (1L, "a x y z b x y"),
      (2L, "p q r s")).toDF("doc_id", "text")
    val got = TextOps.dupSpanScrub(d, 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, "x y z w q", 0L, 0L),
      (1L, "a b", 2L, 5L),
      (2L, "p q r s", 0L, 0L)))
  }

  test("dupSpanScrub: verbatim copy fully excised, original intact") {
    import spark.implicits._
    val d = Seq((0L, "m n o p q r"), (1L, "m n o p q r"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanScrub(d, 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, "m n o p q r", 0L, 0L),
      (1L, "", 1L, 6L)))
  }

  test("bpeTrain incremental pair counts == full recount (merge-sequence equality)") {
    import spark.implicits._
    // the delta-maintained pair-count table must equal a from-scratch
    // recount EVERY round, or the argmax (and so the whole merge
    // sequence) silently diverges. Reference: the pre-round-5
    // full-recount loop, inlined here verbatim.
    val d = (0L until 40L).map { i =>
      (i, s"low lower lowest aaa banana bandana t${i % 7} t${(i * 3) % 11}")
    }.toDF("doc_id", "text")
    def fullRecount(rounds: Int): Seq[(Long, String, String, Long)] = {
      var words = TextOps.bpeWords(d).cache()
      val ms = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      for (r <- 1 to rounds) {
        val top = TextOps.bpePairCounts(words)
          .orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
        if (top.nonEmpty) {
          val (l, rr, c) = (top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          ms += ((r.toLong, l, rr, c))
          val prev = words
          words = words.withColumn("wstr",
            replace(col("wstr"), lit(s"|$l||$rr|"), lit(s"|$l$rr|"))).cache()
          words.count(); prev.unpersist()
        }
      }
      words.unpersist()
      ms.toSeq
    }
    val rounds = 12
    val want = fullRecount(rounds)
    val (merges, _) = TextOps.bpeTrain(d, rounds)
    val got = merges.orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"incremental merges diverged:\n got=$got\nwant=$want")
  }

  test("bpeTrain checkpoint residency is bounded, not O(rounds)") {
    import spark.implicits._
    // every round replaces the words/pc checkpoints; the superseded
    // generations must actually LEAVE the block manager (at 32k merges
    // an O(rounds) leak is an executor OOM — and it measurably slowed
    // unrelated queries sharing the JVM in the r5 bench runs). The
    // trainer checkpoints each generation eagerly and frees the
    // previous one on the spot, so residency must stay O(1): the final
    // generation only (≤ ~4 RDDs: words, pc, the sparse branch's
    // affected set), never ~2 per round.
    val d = (0L until 40L).map { i =>
      (i, s"low lower lowest aaa banana bandana t${i % 7} t${(i * 3) % 11}")
    }.toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val rounds = 12
    val (merges, words) = TextOps.bpeTrain(d, rounds)
    assert(merges.count() == rounds)
    words.count()
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.size <= 8,
      s"bpeTrain left ${leaked.size} checkpointed RDDs after $rounds rounds " +
        "(expected ≤ 2 generations)")
    for (id <- leaked; rdd <- sc.getPersistentRDDs.get(id))
      rdd.unpersist(blocking = false)
  }

  test("bpeTrain: pair-free corpus yields no merges, words unchanged") {
    import spark.implicits._
    // every word is a single character → no adjacent pairs in any
    // round; the trainer must skip cleanly (no merges) and the encoder
    // must still count 1 token per word — the degenerate case whose
    // oracle replay needs LEFT JOIN (not CROSS JOIN) merge application
    val d = Seq((0L, "a b c"), (1L, "b c a")).toDF("doc_id", "text")
    val (merges, words) = TextOps.bpeTrain(d, 3)
    assert(merges.count() == 0)
    val w = words.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(w == Map("a" -> "|a|", "b" -> "|b|", "c" -> "|c|"))
    val enc = TextOps.bpeEncodeStats(d, 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.toSeq == Seq((0L, 3L, 3L), (1L, 3L, 3L)))
  }

  test("tfidfSimPairs: identical docs score exactly 10^6, disjoint " +
    "docs never pair, df-capped terms are pruned") {
    import spark.implicits._
    val d = Seq((0L, "x y z"), (1L, "x y z"), (2L, "p q"),
        (3L, "x q"), (4L, "the the the"))
      .toDF("doc_id", "text")
    val got = TextOps.tfidfSimPairs(d, 1000L, 20).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // identical vectors: dot = na = nb -> sim2 = 10^6 exactly
    assert(got((0L, 1L))._2 === 1000000L)
    // docs sharing no term never appear
    assert(!got.contains((0L, 2L)) && !got.contains((1L, 2L)) &&
      !got.contains((2L, 4L)))
    // partial overlap ranks strictly below identical
    assert(got((0L, 3L))._2 < 1000000L)
    // a 200 permille cap over 5 docs means df <= 1: every shared
    // term is pruned -> no pairs at all
    assert(TextOps.tfidfSimPairs(d, 200L, 20).count() === 0)
  }

  test("association rules: confidence and lift are the exact scaled " +
    "ratios on a hand-checked basket set") {
    import spark.implicits._
    // 3 baskets (one user, hours 0/1/2): {A,B}, {A,B}, {A}
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:30:00")
    def at(h: Int) = new java.sql.Timestamp(ts0.getTime + h * 3600 * 1000L)
    val ev = Seq(
      (1L, at(0), "A", """{"k": 1}"""), (1L, at(0), "B", """{"k": 1}"""),
      (1L, at(1), "A", """{"k": 1}"""), (1L, at(1), "B", """{"k": 1}"""),
      (1L, at(2), "A", """{"k": 1}"""))
      .toDF("user_id", "ts", "event_type", "props")
    val got = graft.ops.Itemsets.rules(ev, 2L, 0L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    // c_A = 3, c_B = 2, support = 2, n = 3:
    // A->B conf = 2e6//3 = 666666, B->A conf = 1e6,
    // lift both ways = 2·3·1e6//(3·2) = 1e6
    assert(got.toSeq === Seq(
      ("A#0", "B#0", 2L, 666666L, 1000000L),
      ("B#0", "A#0", 2L, 1000000L, 1000000L)))
  }

  test("classAffinity: a val doc is assigned the class whose train " +
    "corpus shares its tokens; ties break to the smaller lang") {
    import spark.implicits._
    // splitAssign buckets on md5(doc_id): find ids on each side so
    // the fixture is deterministic without faking the split
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    val ids = (0L to 400L)
    val valIds = ids.filter(i => bucket(i) * 1000 < 200 * 65536)
    val trainIds = ids.filter(i => bucket(i) * 1000 >= 200 * 65536)
    // two train docs per class with disjoint vocab, one val doc that
    // speaks "en" vocabulary
    val d = Seq(
      (trainIds(0), "en", "alpha beta alpha"),
      (trainIds(1), "en", "beta alpha"),
      (trainIds(2), "de", "zug bahn zug"),
      (trainIds(3), "de", "bahn zug"),
      (valIds(0), "en", "alpha beta"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.classAffinity(d, 200).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === Seq((valIds(0), "en", "en")))
  }

  test("giniStump: a perfectly separable feature reaches cost 0 at " +
    "the separating threshold, counts exact") {
    import spark.implicits._
    // label true iff f >= 200; quant 64 -> thresholds {1, 3}
    val d = Seq((100L, false), (110L, false), (240L, true), (250L, true))
      .toDF("f", "y")
    val got = TextOps.giniStump(d, col("f"), col("y"), 64L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // threshold t=1 (f//64 <= 1 i.e. f < 128): left = 2 neg, right =
    // 2 pos -> pure split, cost 0
    assert(got.toSeq === Seq((1L, 2L, 0L, 2L, 2L, 0L)))
    // a mixed fixture: cost is the exact scaled rational
    val d2 = Seq((0L, true), (64L, false), (128L, true), (192L, false))
      .toDF("f", "y")
    val g2 = TextOps.giniStump(d2, col("f"), col("y"), 64L).collect()
      .map(r => (r.getLong(0), r.getLong(5))).toMap
    // t=0: left (1 pos, 0 neg) cost 0; right (1 pos, 2 neg) ->
    // (0*1*3 + 1*2*1)*10^6 // (1*3) = 666666
    assert(g2(0L) === 666666L)
  }
}
