package graft

import graft.graph.ConnectedComponents

/** Connected-components (large-star/small-star) properties: exact
  * labels vs a driver-side union-find on random graphs, chain/star/
  * cycle topologies, isolated nodes, and the dedup-cluster contract. */
class GraphSpec extends SparkSuite {

  /** Reference union-find on the driver. */
  private def ufLabels(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(v => v -> find(v)).toMap
  }

  private def run(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val nodes = (0L until n).toDF("id")
    val pairs = edges.toDF("id_a", "id_b")
    ConnectedComponents.components(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, star, cycle, isolated topologies are labeled exactly") {
    // chain 0-1-2-...-9 (worst case for naive propagation), star at 20,
    // 3-cycle 30-31-32, isolated 40..44
    val edges = (0L until 9L).map(i => (i, i + 1)) ++
      (21L to 25L).map(v => (20L, v)) ++
      Seq((30L, 31L), (31L, 32L), (32L, 30L))
    val got = run(45L, edges)
    val want = ufLabels(45L, edges)
    assert(got === want)
    assert(got(9L) === 0L)      // chain collapses to its min
    assert(got(25L) === 20L)
    assert(got(32L) === 30L)
    assert(got(44L) === 44L)    // isolated → self
  }

  test("random graph matches driver union-find exactly") {
    val rnd = new scala.util.Random(42)
    val n = 500L
    val edges = Seq.fill(300)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      .filter { case (a, b) => a != b }
    assert(run(n, edges) === ufLabels(n, edges))
  }

  test("edge direction and duplicates don't matter") {
    val e1 = Seq((1L, 2L), (2L, 3L))
    val e2 = Seq((3L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
    assert(run(5L, e1) === run(5L, e2))
  }

  test("starEdges fuses the fingerprint into the checkpoint job (fewer jobs than eager+separate)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairs = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L))).toDF("id_a", "id_b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def countJobs(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      jobs.set(0)
      try { body; Thread.sleep(1500); jobs.get() }
      finally spark.sparkContext.removeSparkListener(listener)
    }
    // reference: the pre-fusion loop — EAGER checkpoint then a separate
    // fingerprint action per round (what starEdges used to do)
    def eagerRounds(): Unit = {
      def fp(e: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = e.select(xxhash64(col("u"), col("v")).as("h"))
          .agg(count(lit(1)), expr("bit_xor(h)")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      var e = ConnectedComponents.canonEdges(
        pairs.select(col("id_a"), col("id_b"))).localCheckpoint(true)
      var f = fp(e)
      var done = false
      while (!done) {
        val next = ConnectedComponents.starRound(e).localCheckpoint(true)
        val nf = fp(next)
        e = next; done = nf == f; f = nf
      }
    }
    var rounds = 0
    val jFused = countJobs {
      val (e, n) = ConnectedComponents.starEdgesRounds(pairs)
      rounds = n
      e.count()
    }
    val jEager = countJobs { eagerRounds() }
    info(s"jobs: fused=$jFused eager+separate=$jEager (rounds=$rounds)")
    assert(rounds >= 1)
    // the fused loop must schedule strictly fewer jobs than the eager
    // reference on the same input (one materializing aggregate per
    // round vs checkpoint-job + fingerprint-job)
    assert(jFused < jEager,
      s"fusion gone: $jFused jobs fused vs $jEager eager")
  }

  test("dedupClusters keeps exactly one doc per cluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 identical docs + 2 identical docs + 1 unique
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (10L, "one two three four five six seven"),
      (11L, "one two three four five six seven"),
      (20L, "totally unrelated words nothing shared here"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val out = ConnectedComponents.dedupClusters(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byCluster = out.groupBy(_._2)
    assert(byCluster.keySet === Set(0L, 10L, 20L))
    assert(byCluster(0L).map(_._1).toSet === Set(0L, 1L, 2L))
    assert(byCluster(10L).map(_._1).toSet === Set(10L, 11L))
    // exactly one keep per cluster, and it is the min id
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_._3) === 1)
      assert(rows.find(_._3).get._1 === cid)
    }
  }

  test("pagerankInt == driver power iteration with identical integer ops") {
    import spark.implicits._
    // deterministic random graph: 40 nodes, LCG edge picks (dupes and
    // both orientations included on purpose — canonicalized inside)
    val seeds = Iterator.iterate(99L)(s =>
      s * 6364136223846793005L + 1442695040888963407L)
      .map(s => (s >>> 33)).take(120).toArray
    val edges = seeds.grouped(2).map(a => (a(0) % 40, a(1) % 40))
      .filter(p => p._1 != p._2).toSeq
    val scale = 1000000L
    // driver reference with the same truncating-div semantics
    val und = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    var pr = adj.keys.map(_ -> scale).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      adj.foreach { case (u, ns) =>
        val share = pr(u) / ns.length
        ns.foreach(v => contrib(v) += share)
      }
      pr = pr.keys.map(v => v -> (150000L + 85L * contrib(v) / 100L)).toMap
    }
    val got = graft.graph.PageRank
      .pagerankInt(edges.toDF("a", "b"), 3, scale)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === pr)
    // ranks differ across nodes (non-degenerate fixture)
    assert(got.values.toSet.size > 1)
  }

  /** Driver-side synchronous peel reference for k-core. */
  private def kcoreRef(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val und = edges.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    var adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val keep = adj.filter(_._2.size >= k).keySet
      val next = adj.collect {
        case (v, ns) if keep(v) => v -> ns.intersect(keep)
      }.toMap
      changed = next.map(_._2.size).sum != adj.map(_._2.size).sum
      adj = next
    }
    adj.collect { case (v, ns) if ns.size >= k => v -> ns.size.toLong }
  }

  test("kcore matches the driver peel on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 25
      val edges = (0 until n * 3)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val got = graft.graph.KCore.kcore(edges.toDF("a", "b"), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === kcoreRef(edges, 3), s"trial $trial")
    }
  }

  test("kcore peels a chain to nothing and keeps a clique") {
    import spark.implicits._
    // chain 0-1-2-...-9 has max degree 2 → empty 3-core
    val chain = (0L until 9L).map(i => (i, i + 1))
    assert(graft.graph.KCore.kcore(chain.toDF("a", "b"), 3).count() === 0)
    // self-loops only (`* 1` keeps the optimizer from folding them
    // away): no edge survives canonicalization, so no peel job runs
    val loops = spark.range(8).select($"id".as("a"), ($"id" * 1).as("b"))
    assert(graft.graph.KCore.kcore(loops, 1).count() === 0)
    // K5 plus a pendant: the 3-core is exactly the K5, degree 4 each
    val k5 = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j)
    val (core, rounds) =
      graft.graph.KCore.kcoreRounds((k5 :+ (0L, 99L)).toDF("a", "b"), 3, 12)
    val got = core.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === (0L until 5L).map(_ -> 4L).toMap)
    // the gate's oracle unrolls KCoreRounds=12 — a 3-core that takes
    // longer to converge than that would silently diverge; the peel
    // above converges in ≤ a handful of rounds
    assert(rounds <= 12)
  }

  test("starEdges and kcore checkpoint residency is bounded, not O(rounds)") {
    import spark.implicits._
    // chains take several star rounds and several peel rounds (k = 2
    // peels one end node per side per round: 5 rounds for 10 nodes);
    // each round must free the generation it superseded
    def chain(n: Long) = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    def leakedBy(body: => Int): (Set[Int], Int) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val n = body
      (sc.getPersistentRDDs.keySet.toSet -- before, n)
    }
    val runs = Seq(
      "starEdges" -> leakedBy {
        val (e, n) = ConnectedComponents.starEdgesRounds(chain(40))
        assert(e.count() === 39L); n
      },
      "kcore" -> leakedBy {
        val (c, n) = graft.graph.KCore.kcoreRounds(chain(10), 2, 12)
        assert(c.count() === 0L); n
      })
    for ((op, (leaked, n)) <- runs) {
      assert(n >= 3, s"$op took $n rounds")
      assert(leaked.size <= 2, s"$op left ${leaked.size} checkpointed " +
        s"RDDs after $n rounds (expected ≤ 2 generations)")
      for (id <- leaked; rdd <- sc.getPersistentRDDs.get(id))
        rdd.unpersist(blocking = false)
    }
  }

  /** Driver-side synchronous LPA with the same (count desc, lab asc)
    * tie-break. */
  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (v, ns) =>
        val votes = ns.groupBy(lab).map { case (l, xs) => (l, xs.size) }
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  test("label propagation matches the driver replay; two cliques keep " +
    "their own labels across a bridge") {
    import spark.implicits._
    // two K4s {0..3} and {10..13} joined by one bridge 3-10: after any
    // number of rounds each clique converges to its min label and the
    // bridge endpoints stay with their cliques
    val k4a = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    val k4b = for (i <- 10L until 14L; j <- (i + 1) until 14L) yield (i, j)
    val edges = k4a ++ k4b :+ (3L, 10L)
    val got = graft.graph.LabelProp.labelProp(edges.toDF("a", "b"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === lpaRef(edges, 3))
    assert((0L until 4L).forall(v => got(v) == 0L))
    assert((10L until 14L).forall(v => got(v) == 10L))
    // random graphs: exact agreement with the driver replay
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 20
      val re = (0 until n * 2)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val g = graft.graph.LabelProp.labelProp(re.toDF("a", "b"), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(g === lpaRef(re, 3), s"trial $trial")
    }
  }

  test("clustering coefficient: K4 is fully transitive, a path has " +
    "zero, K4-minus-an-edge splits exactly") {
    import spark.implicits._
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    val g = graft.graph.LabelProp.clusteringCoef(k4.toDF("a", "b"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert((0L until 4L).forall(v => g(v) === ((3L, 3L, 1000000L))))
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val gp = graft.graph.LabelProp.clusteringCoef(path.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gp.values.forall(_ == 0L))
    // K4 minus (2,3): t = (2,2,1,1), deg = (3,3,2,2)
    val k4m = k4.filterNot(_ == ((2L, 3L)))
    val gm = graft.graph.LabelProp.clusteringCoef(k4m.toDF("a", "b"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(gm(0L) === ((3L, 2L, 666666L)) && gm(1L) === ((3L, 2L, 666666L)))
    assert(gm(2L) === ((2L, 1L, 1000000L)) && gm(3L) === ((2L, 1L, 1000000L)))
  }

  test("link prediction: path endpoints beat loosely-tied pairs, " +
    "adjacent pairs are excluded, scores are exact") {
    import spark.implicits._
    // path 0-1-2: only candidate is (0,2) with cn=1, da=db=1 →
    // jacc = 10^6·1/(1+1-1) = 10^6
    val got = graft.graph.LabelProp.linkPredict(
        Seq((0L, 1L), (1L, 2L)).toDF("a", "b"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(5)))
    assert(got.toSeq === Seq((0L, 2L, 1L, 1000000L)))
    // K4 minus one edge: the missing pair (2,3) has cn=2 (both share
    // 0 and 1), deg 2 each → jacc = 2·10^6/(2+2-2) = 10^6; every
    // existing edge must be absent from the candidates
    val k4m = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L))
    val g2 = graft.graph.LabelProp.linkPredict(k4m.toDF("a", "b"), 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(5)))).toMap
    assert(g2.contains((2L, 3L)) && g2((2L, 3L)) === ((2L, 1000000L)))
    assert(k4m.forall(e => !g2.contains(e)))
  }
}
