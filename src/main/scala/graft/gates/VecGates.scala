package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.{OracleCte, Synth}
import graft.gen.OracleCte.{PhashCte, SimgCte, bandParams => B, hx,
  images => I, pixelGen => PxCte, polygons => P}
import graft.ops.{Algorithms, Knn, Tiling}

/** The vec gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object VecGates {

  /** Brute-force cosine top-10 ground truth — shared verbatim by
    * q_ann_cosine_topk and (as the truth side) q_ann_recall. */
  private val CosineTopkOracleSql =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 3),
      |c AS (SELECT q.qid, e.vec_id,
      |        list_dot_product(q.qe, e.embedding::DOUBLE[]) /
      |        (sqrt(list_dot_product(q.qe, q.qe)) *
      |         sqrt(list_dot_product(e.embedding::DOUBLE[],
      |                               e.embedding::DOUBLE[]))) AS sim
      |      FROM q, embeddings e WHERE e.vec_id != q.qid),
      |r AS (SELECT qid, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY sim DESC, vec_id) AS rank FROM c)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM r
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** IVF ANN ground truth — shared verbatim by q_ann_ivf_topk (direct
    * path) and q_ann_index (persisted-index probe): the index is a
    * materialization, so both paths must return identical rows. */
  private val IvfOracleSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
      |cents AS (SELECT vec_id AS cid, ed AS ce FROM e WHERE vec_id < 16),
      |asg AS (SELECT e.vec_id, e.ed, c.cid,
      |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |            list_dot_product(e.ed, c.ce) /
      |            (sqrt(list_dot_product(e.ed, e.ed)) *
      |             sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
      |        FROM e CROSS JOIN cents c),
      |cells AS (SELECT vec_id, ed, cid FROM asg WHERE rk = 1),
      |q AS (SELECT vec_id AS qid, ed AS qe FROM e WHERE vec_id < 3),
      |pr AS (SELECT q.qid, q.qe, c.cid,
      |         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |           list_dot_product(q.qe, c.ce) /
      |           (sqrt(list_dot_product(q.qe, q.qe)) *
      |            sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
      |       FROM q CROSS JOIN cents c),
      |probes AS (SELECT qid, qe, cid FROM pr WHERE rk <= 4),
      |cand AS (SELECT p.qid, v.vec_id,
      |           list_dot_product(p.qe, v.ed) /
      |           (sqrt(list_dot_product(p.qe, p.qe)) *
      |            sqrt(list_dot_product(v.ed, v.ed))) AS sim
      |         FROM cells v JOIN probes p ON p.cid = v.cid
      |         WHERE v.vec_id != p.qid),
      |r AS (SELECT qid, vec_id,
      |        ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY sim DESC, vec_id) AS rank FROM cand)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM r
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The 16-table, 4-bit LSH bucket rows (vec_id, tj, bk) over the
    * DOUBLE[] column `ed` of CTE `src`, as UNION ALL branches. */
  private def lshBuckets(src: String): String =
    (0 until 16).map(t =>
      s"SELECT vec_id, $t AS tj, ${OracleCte.lshBucketSql("ed", 64, 4, t)} AS bk FROM $src")
      .mkString("\nUNION ALL ")

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    Gate("q_knn", (s, dir) => {
      val im = Synth.images(s, dir)
        .withColumn("cxm", col("x0m") + col("w") * 2)
        .withColumn("cym", col("y0m") + col("h") * 2)
        .select("image_id", "cxm", "cym")
      val q = Synth.polygons(s, dir)
        .select(col("fid").as("qid"),
          (col("px0m") + Tiling.idiv(col("pwm"), lit(2L))).as("qxm"),
          (col("py0m") + Tiling.idiv(col("phm"), lit(2L))).as("qym"))
      Knn.knn(s, im, q, 5, Synth.JoinRes)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("image_id"), col("dist2"))
        .orderBy("qid", "rank")
    },
      Some(s"""WITH $I, $P,
         |q AS (SELECT fid AS qid, px0m + pwm//2 AS qxm, py0m + phm//2 AS qym
         |      FROM poly2),
         |cand AS (
         |  SELECT q.qid, i.image_id,
         |    (i.x0m + i.w*2 - q.qxm)*(i.x0m + i.w*2 - q.qxm) +
         |    (i.y0m + i.h*2 - q.qym)*(i.y0m + i.h*2 - q.qym) AS dist2
         |  FROM q CROSS JOIN img2 i),
         |ranked AS (
         |  SELECT qid, image_id, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, image_id)
         |      AS rank
         |  FROM cand)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, image_id, dist2
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // image feature-extract: pixel payload → 64-d block-mean embedding
    // (the vector the ANN/near-dup ops consume); emitted 2^-20-
    // quantized so the oracle is bit-exact
    Gate("q_img_embedding", (s, dir) => {
      val embU = udf((bytes: Array[Byte], w: Int, h: Int, fmt: String) => {
        import graft.core.Codec
        val p = Codec.decode(bytes, w, h,
          Codec.bandsStored(fmt, Synth.NumBands), fmt)(0)
        Codec.blockMeanEmbedding(p, w, h)
          .map(m => math.floor(m * 1048576.0).toLong)
      })
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .select(col("image_id"),
          posexplode(embU(col("bytes"), col("w").cast("int"),
            col("h").cast("int"), col("fmt"))).as(Seq("bi", "mq")))
        .select(col("image_id"), col("bi").cast("long").as("bi"), col("mq"))
        .orderBy("image_id", "bi")
    },
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte
         |SELECT s.image_id, CAST(q.byi*8 + q.bxi AS BIGINT) AS bi, q.mq
         |FROM bq q JOIN simg s ON s.k = q.k
         |ORDER BY image_id, bi""".stripMargin)),

    // float k-means / rxd / masks: rows-only (float sums are partition-
    // order-dependent; matrix-inverse and multi-pass morphology have no
    // SQL mirror) — but the _exact k-means variants and pansharp below
    // ARE oracle-exact
    Gate("q_kmeans_emb", (s, dir) =>
      Algorithms.kmeansEmbeddings(s, Synth.embeddings(s, dir), 4, 3).orderBy("vec_id"),
      None),

    // ---- embeddings ----
    Gate("q_ann_cosine_topk", (s, dir) =>
      graft.vec.VectorOps.cosineTopK(Synth.embeddings(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank"),
      Some(CosineTopkOracleSql)),

    Gate("q_emb_neardup", (s, dir) => {
      val e = Synth.embeddings(s, dir).where(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("sim", graft.vec.VectorOps.cosine(col("ea"), col("eb")))
        .where(col("sim") > 0.35)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.ed, b.ed) /
        |      (sqrt(list_dot_product(a.ed, a.ed)) *
        |       sqrt(list_dot_product(b.ed, b.ed))) > 0.35
        |ORDER BY 1, 2""".stripMargin)),

    // corpus-scale embedding near-dup: LSH bucket-collision candidates
    // (16 tables × 4-bit SRP — tables buy recall, nb bounds bucket
    // size) + exact cosine verify — UNBOUNDED input (whole embeddings
    // table), no cross join in the plan. nb=4 suits this oracle-bounded
    // corpus; real corpora size nb via VectorOps.nbForCorpus (≈30 at
    // 10¹² rows) and the DuckDB oracle re-derives the same buckets
    Gate("q_emb_neardup_lsh", (s, dir) =>
      graft.vec.VectorOps.embNearDupLsh(Synth.embeddings(s, dir), 64, 0.35,
          nb = 4, tables = 16)
        .orderBy("id_a", "id_b"),
      Some {
      val buckets = lshBuckets("e")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
         |b AS ($buckets),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b x JOIN b y ON x.tj = y.tj AND x.bk = y.bk
         |  WHERE x.vec_id < y.vec_id)
         |SELECT c.id_a, c.id_b FROM cand c
         |JOIN e a ON a.vec_id = c.id_a
         |JOIN e bb ON bb.vec_id = c.id_b
         |WHERE list_dot_product(a.ed, bb.ed) /
         |      (sqrt(list_dot_product(a.ed, a.ed)) *
         |       sqrt(list_dot_product(bb.ed, bb.ed))) > 0.35
         |ORDER BY 1, 2""".stripMargin
    }),

    // embedding near-dup CLUSTERS: the same large-star/small-star
    // components over the LSH-verified cosine edges — keep-one-per-
    // cluster for embedding-level dedup (recursive-CTE oracle)
    Gate("q_emb_clusters", (s, dir) =>
      graft.graph.ConnectedComponents.components(
          Synth.embeddings(s, dir).select("vec_id"),
          graft.vec.VectorOps.embNearDupLsh(Synth.embeddings(s, dir), 64, 0.35,
            nb = 4, tables = 16))
        .select(col("id").as("vec_id"), col("comp").as("cluster_id"))
        .orderBy("vec_id"),
      // transitive closure over the SAME verified cosine edge set — the
      // ground truth for the embedding-side components
      Some {
      val buckets = lshBuckets("e")
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
         |b AS ($buckets),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b x JOIN b y ON x.tj = y.tj AND x.bk = y.bk
         |  WHERE x.vec_id < y.vec_id),
         |vpairs AS (SELECT c.id_a, c.id_b FROM cand c
         |  JOIN e a ON a.vec_id = c.id_a
         |  JOIN e bb ON bb.vec_id = c.id_b
         |  WHERE list_dot_product(a.ed, bb.ed) /
         |        (sqrt(list_dot_product(a.ed, a.ed)) *
         |         sqrt(list_dot_product(bb.ed, bb.ed))) > 0.35),
         |ed2 AS (SELECT id_a AS u, id_b AS v FROM vpairs
         |        UNION ALL SELECT id_b, id_a FROM vpairs),
         |reach AS (
         |  SELECT vec_id AS v, vec_id AS l FROM embeddings
         |  UNION
         |  SELECT ed2.v, r.l FROM reach r JOIN ed2 ON ed2.u = r.v)
         |SELECT v AS vec_id, MIN(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY vec_id""".stripMargin
    }),

    // SemDeDup (Abbas et al. 2023): exact-integer k-means clustering +
    // within-cluster cosine near-dup pruning, keep-lowest-id. The
    // oracle replays the Lloyd rounds (q_kmeans_exact pattern) and the
    // bit-identical double cosine, then the same anti-join — the whole
    // composed pipeline is value-exact
    Gate("q_semdedup", (s, dir) =>
      graft.vec.VectorOps.semDeDup(s,
          Synth.embeddings(s, dir).where(col("vec_id") < 200), 4, 3, 0.35)
        .orderBy("vec_id"),
      // SemDeDup: the kmeans-exact Lloyd replay on the vec_id<200 slice
      // (fresh sq/sc/sd/sa/ss CTE names), then within-cluster double
      // cosine > 0.35 marks higher-id members as duplicates; survivors
      // = anti-join. Same quantization, distance, tie and truncated-mean
      // rules as q_kmeans_exact.
      Some {
      val K = 4; val Iters = 3; val Dim = 64
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        s"""sq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
           |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe,
           |  embedding::DOUBLE[] AS ed
           |  FROM embeddings WHERE vec_id < 200)""".stripMargin,
        s"sdims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"sc1 AS (SELECT vec_id AS cid, qe AS ce FROM sq WHERE vec_id < $K)")
      ctes ++= OracleCte.lloydRounds("s", Iters)
      ctes += s"""sdup AS (SELECT DISTINCT y.vec_id
                 |  FROM sa$Iters x JOIN sq a ON a.vec_id = x.vec_id
                 |  JOIN sa$Iters y ON y.cluster = x.cluster
                 |  JOIN sq b ON b.vec_id = y.vec_id
                 |  WHERE a.vec_id < b.vec_id
                 |    AND list_dot_product(a.ed, b.ed) /
                 |        (sqrt(list_dot_product(a.ed, a.ed)) *
                 |         sqrt(list_dot_product(b.ed, b.ed))) > 0.35)""".stripMargin
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster" +
        s"\nFROM sa$Iters s WHERE s.vec_id NOT IN (SELECT vec_id FROM sdup)" +
        s"\nORDER BY s.vec_id"
    }),

    // SemDeDup at CORPUS scale: same clustering + keep rule, but the
    // within-cluster pairing comes from the LSH candidate path (16
    // SRP tables; cluster equality is one more equi-key) — no cross
    // join anywhere; the oracle replays the buckets bit-exactly
    Gate("q_semdedup_lsh", (s, dir) =>
      graft.vec.VectorOps.semDeDup(s, Synth.embeddings(s, dir), 4, 3, 0.35,
          exactPairs = false, nb = 4)
        .orderBy("vec_id"),
      // corpus-scale SemDeDup: Lloyd replay on the FULL table + the
      // 16-table SRP bucket replay (q_emb_neardup_lsh pattern) as the
      // candidate source; dup = same-cluster verified-cosine candidate
      // with a lower id
      Some {
      val K = 4; val Iters = 3; val Dim = 64
      val buckets = lshBuckets("zq")
      val ctes = scala.collection.mutable.ArrayBuffer[String](
        s"""zq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
           |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe,
           |  embedding::DOUBLE[] AS ed
           |  FROM embeddings)""".stripMargin,
        s"zdims AS (SELECT unnest(generate_series(1, $Dim)) AS i)",
        s"zc1 AS (SELECT vec_id AS cid, qe AS ce FROM zq WHERE vec_id < $K)")
      ctes ++= OracleCte.lloydRounds("z", Iters)
      ctes += s"zb AS ($buckets)"
      ctes += s"""zcand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 |  FROM zb x JOIN zb y ON x.tj = y.tj AND x.bk = y.bk
                 |  WHERE x.vec_id < y.vec_id)""".stripMargin
      ctes += s"""zdup AS (SELECT DISTINCT c.id_b AS vec_id
                 |  FROM zcand c
                 |  JOIN za$Iters xa ON xa.vec_id = c.id_a
                 |  JOIN za$Iters yb ON yb.vec_id = c.id_b
                 |    AND yb.cluster = xa.cluster
                 |  JOIN zq a ON a.vec_id = c.id_a
                 |  JOIN zq b ON b.vec_id = c.id_b
                 |  WHERE list_dot_product(a.ed, b.ed) /
                 |        (sqrt(list_dot_product(a.ed, a.ed)) *
                 |         sqrt(list_dot_product(b.ed, b.ed))) > 0.35)""".stripMargin
      "WITH " + ctes.mkString(",\n") +
        s"\nSELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster" +
        s"\nFROM za$Iters s WHERE s.vec_id NOT IN (SELECT vec_id FROM zdup)" +
        s"\nORDER BY s.vec_id"
    }),

    // LSH-bucketed ANN top-k (recall@10 = 0.84 vs brute force, measured
    // in LshSpec on honestly-decorrelated planes)
    Gate("q_ann_lsh_topk", (s, dir) =>
      graft.vec.VectorOps.lshTopK(Synth.embeddings(s, dir), 64, col("vec_id") < 3, 10,
          nb = 4, tables = 16)
        .orderBy("qid", "rank"),
      Some {
      val buckets = lshBuckets("e")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
         |b AS ($buckets),
         |qb AS (SELECT vec_id AS qid, tj, bk FROM b WHERE vec_id < 3),
         |pairs AS (SELECT DISTINCT q.qid, b.vec_id
         |  FROM b JOIN qb q ON b.tj = q.tj AND b.bk = q.bk
         |  WHERE b.vec_id != q.qid),
         |c AS (SELECT p.qid, p.vec_id,
         |  list_dot_product(qe.ed, e.ed) /
         |  (sqrt(list_dot_product(qe.ed, qe.ed)) *
         |   sqrt(list_dot_product(e.ed, e.ed))) AS sim
         |  FROM pairs p JOIN e ON e.vec_id = p.vec_id
         |  JOIN e qe ON qe.vec_id = p.qid),
         |r AS (SELECT qid, vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |    AS rank FROM c)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM r
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }),

    // IVF ANN top-k: 16 fixed-centroid cells, 4 probed per query,
    // exact re-rank inside probed cells (recall vs brute in LshSpec)
    Gate("q_ann_ivf_topk", (s, dir) =>
      graft.vec.VectorOps.ivfTopK(Synth.embeddings(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank"),
      Some(IvfOracleSql)),

    // PERSISTED IVF index: build once (resumable Lineage tables,
    // postings hash-bucketed by cell), probe via bucket-pruned reads —
    // must return exactly the direct-path rows (shared oracle)
    Gate("q_ann_index", (s, dir) => {
      val root = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_ivf_v1_${math.abs(dir.hashCode)}"
      graft.vec.VectorOps.buildIvfIndex(s, Synth.embeddings(s, dir), root)
      graft.vec.VectorOps.probeIvfIndex(s, root,
        Synth.embeddings(s, dir).where(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), 10)
        .orderBy("qid", "rank")
    },
      // the persisted-index probe must return EXACTLY what the direct
      // IVF path returns — same oracle
      Some(IvfOracleSql)),

    // PQ ANN top-k by ADC (8 subspaces × 16 sub-centroids, fixed-id
    // codebook, exact-integer distances — the oracle replays encode +
    // the full ADC table in SQL; recall vs brute in LshSpec)
    Gate("q_ann_pq_topk", (s, dir) =>
      graft.vec.VectorOps.pqTopK(Synth.embeddings(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank"),
      // PQ replay: quantize to the kmeans-exact integer grid, codebook =
      // sub-vectors of the 16 lowest vec_ids (positional index c in
      // vec_id order = the Spark kernel's centroid index), encode =
      // per-(vector, subspace) argmin of exact integer squared distance
      // (ties -> lowest c), ADC = sum of the query's per-subspace
      // distances to each candidate's coded centroids. SUM(BIGINT) is
      // HUGEINT in DuckDB -> cast the output columns back to BIGINT.
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qe AS ce
        |       FROM q ORDER BY vec_id LIMIT 16),
        |dist AS (SELECT q.vec_id, CAST((d.i-1)//8 AS INT) AS sub, cb.c,
        |           SUM((q.qe[d.i]-cb.ce[d.i])*(q.qe[d.i]-cb.ce[d.i])) AS dd
        |         FROM q, cb, dims d GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, c FROM (SELECT vec_id, sub, c,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |              ORDER BY dd, c) AS rn FROM dist) WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, sub, c, dd FROM dist WHERE vec_id < 3),
        |ad AS (SELECT qd.qid, co.vec_id, SUM(qd.dd) AS adist
        |       FROM codes co JOIN qd ON qd.sub = co.sub AND qd.c = co.c
        |       WHERE co.vec_id != qd.qid GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id, adist,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY adist, vec_id) AS rank FROM ad)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |       CAST(adist AS BIGINT) AS adist
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // IVF-PQ composed ANN: IVF cells prune (sub-linear probe), PQ ADC
    // scores survivors on compressed codes — candidates never rejoin
    // the embedding column (the 10^12-row architecture; nprobe=kc ==
    // pqTopK asserted in LshSpec)
    Gate("q_ann_ivfpq_topk", (s, dir) =>
      graft.vec.VectorOps.ivfPqTopK(Synth.embeddings(s, dir), col("vec_id") < 3, 10)
        .orderBy("qid", "rank"),
      // IVF-PQ replay: the IVF oracle's cosine cell assignment + probe
      // CTEs composed with the PQ oracle's integer encode + ADC CTEs —
      // candidates are the probed cells' members, scored by ADC
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
        |cents AS (SELECT vec_id AS cid, ed AS ce FROM e WHERE vec_id < 16),
        |asg AS (SELECT e.vec_id, c.cid,
        |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |            list_dot_product(e.ed, c.ce) /
        |            (sqrt(list_dot_product(e.ed, e.ed)) *
        |             sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
        |        FROM e CROSS JOIN cents c),
        |cells AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
        |pr AS (SELECT q.vec_id AS qid, c.cid,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |           list_dot_product(q.ed, c.ce) /
        |           (sqrt(list_dot_product(q.ed, q.ed)) *
        |            sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) AS rk
        |       FROM e q CROSS JOIN cents c WHERE q.vec_id < 3),
        |probes AS (SELECT qid, cid FROM pr WHERE rk <= 4),
        |qz AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qe AS ce
        |       FROM qz ORDER BY vec_id LIMIT 16),
        |dist AS (SELECT qz.vec_id, CAST((d.i-1)//8 AS INT) AS sub, cb.c,
        |           SUM((qz.qe[d.i]-cb.ce[d.i])*(qz.qe[d.i]-cb.ce[d.i])) AS dd
        |         FROM qz, cb, dims d GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, c FROM (SELECT vec_id, sub, c,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |              ORDER BY dd, c) AS rn FROM dist) WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, sub, c, dd FROM dist WHERE vec_id < 3),
        |ad AS (SELECT qd.qid, co.vec_id, SUM(qd.dd) AS adist
        |       FROM codes co
        |       JOIN cells ce ON ce.vec_id = co.vec_id
        |       JOIN probes p ON p.cid = ce.cid
        |       JOIN qd ON qd.qid = p.qid AND qd.sub = co.sub AND qd.c = co.c
        |       WHERE co.vec_id != qd.qid GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id, adist,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY adist, vec_id) AS rank FROM ad)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |       CAST(adist AS BIGINT) AS adist
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // PQ encode digest: subspace-0 centroid id + position-weighted sum
    // of all 8 code centroid ids per vector (codes mapped back to the
    // source vec_ids of the fixed-id codebook so the oracle's labels
    // and Spark's positional indices can't silently diverge)
    Gate("q_pq_codes", (s, dir) => {
      val e = Synth.embeddings(s, dir)
      // one bounded collect feeds both the codebook and the label map
      val (cbIds, cbRows) = graft.vec.VectorOps.lowestRows(e, 16)
      val cb = graft.vec.VectorOps.pqCodebookFromRows(cbRows, 64, 8, 16)
      val cids = transform(col("codes"),
        c => element_at(lit(cbIds), c.cast("int") + lit(1)))
      graft.vec.VectorOps.pqCodes(e, cb, 8, 16)
        .select(col("vec_id"),
          element_at(cids, 1).as("code0"),
          aggregate(
            zip_with(cids,
              transform(sequence(lit(1), lit(8)), x => x.cast("long")),
              (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("csum"))
        .orderBy("vec_id")
    },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |  x -> CAST(FLOOR(x*1048576.0) AS BIGINT)) AS qe FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c,
        |              vec_id AS cvid, qe AS ce
        |       FROM q ORDER BY vec_id LIMIT 16),
        |dist AS (SELECT q.vec_id, CAST((d.i-1)//8 AS INT) AS sub,
        |           cb.c, cb.cvid,
        |           SUM((q.qe[d.i]-cb.ce[d.i])*(q.qe[d.i]-cb.ce[d.i])) AS dd
        |         FROM q, cb, dims d GROUP BY 1, 2, 3, 4),
        |codes AS (SELECT vec_id, sub, cvid FROM (SELECT vec_id, sub, cvid,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |              ORDER BY dd, c) AS rn FROM dist) WHERE rn = 1)
        |SELECT vec_id,
        |  CAST(MAX(CASE WHEN sub = 0 THEN cvid END) AS BIGINT) AS code0,
        |  CAST(SUM((sub + 1) * cvid) AS BIGINT) AS csum
        |FROM codes GROUP BY 1 ORDER BY 1""".stripMargin)),

    Gate("q_vec_label_stats", (s, dir) =>
      graft.vec.VectorOps.labelNormStats(Synth.embeddings(s, dir)).orderBy("label"),
      Some("""WITH n AS (SELECT CAST(label AS BIGINT) AS label,
        |  CAST(FLOOR(list_dot_product(embedding::DOUBLE[],
        |       embedding::DOUBLE[]) * 1e6) AS BIGINT) AS n2f
        |FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(SUM(n2f) AS BIGINT) AS norm2_floor_sum
        |FROM n GROUP BY label ORDER BY label""".stripMargin)),

    // int8 embedding quantization (4× ANN-index shrink): per-vector
    // scale + exact-integer element digests
    Gate("q_quantize_int8", (s, dir) =>
      graft.vec.VectorOps.quantizeInt8(Synth.embeddings(s, dir))
        .select(col("vec_id"),
          floor(col("scale") * 1e6).cast("long").as("scale_fl"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
          array_min(col("q")).cast("long").as("qmin"),
          array_max(col("q")).cast("long").as("qmax"))
        .orderBy("vec_id"),
      // int8 quantization ground truth: identical float→double widen,
      // IEEE divide, floor — every digest an exact integer
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
        |s AS (SELECT vec_id, ed,
        |        list_max(list_transform(ed, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |        CASE WHEN scale = 0 THEN list_transform(ed, x -> 0)
        |             ELSE list_transform(ed,
        |               x -> CAST(FLOOR(x * 127.0 / scale) AS INT)) END AS q
        |      FROM s)
        |SELECT vec_id, CAST(FLOOR(scale * 1e6) AS BIGINT) AS scale_fl,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  CAST(list_min(q) AS BIGINT) AS qmin,
        |  CAST(list_max(q) AS BIGINT) AS qmax
        |FROM q ORDER BY vec_id""".stripMargin)),

    // image↔caption alignment (CLIP-score-shaped) filter: integer dot
    // of the 64-d block-mean image embedding with a 64-bucket hashed
    // bag-of-words caption embedding; keep = score ≥ corpus mean
    // (division-free). Per-row map + one scalar agg — zero sorts.
    Gate("q_clipscore", (s, dir) =>
      graft.vec.VectorOps.clipScores(
        Synth.imagesWithBytes(s, dir, Synth.smallRaw)).orderBy("image_id"),
      // CLIP-score ground truth: bq re-derives the quantized block-mean
      // embedding (PhashCte); caption buckets via md5-hex-digit hashing;
      // keep = score·n ≥ Σscores (division-free corpus-mean test)
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte,
         |ctk0 AS (SELECT k, unnest(string_split(caption, ' ')) AS tok
         |        FROM simg),
         |ctk AS (SELECT k, md5(tok) AS hm FROM ctk0),
         |ctb AS (SELECT k,
         |          CAST((${hx("hm", 1)}*256 + ${hx("hm", 2)}*16
         |            + ${hx("hm", 3)}) % 64 AS BIGINT) AS bi,
         |          CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM ctk GROUP BY 1, 2),
         |cdot AS (SELECT q.k,
         |          COALESCE(SUM(q.mq * c.cnt), 0) AS score
         |        FROM bq q LEFT JOIN ctb c ON c.k = q.k
         |          AND c.bi = q.byi*8 + q.bxi
         |        GROUP BY 1),
         |ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(score) AS BIGINT) AS ts FROM cdot)
         |SELECT s.image_id, CAST(d.score AS BIGINT) AS score,
         |  CAST(CASE WHEN d.score * t.n >= t.ts THEN 1 ELSE 0 END
         |    AS BIGINT) AS keep
         |FROM cdot d JOIN simg s ON s.k = d.k CROSS JOIN ctot t
         |ORDER BY s.image_id""".stripMargin)),

    // ANN quality evaluation: recall@10 of the IVF index against the
    // brute-force cosine ground truth (the index-tuning measurement
    // every ANN deployment runs); both sides are existing gates, the
    // eval is their key-join overlap per query
    Gate("q_ann_recall", (s, dir) => {
      val brute = graft.vec.VectorOps
        .cosineTopK(Synth.embeddings(s, dir), col("vec_id") < 3, 10)
        .select(col("qid"), col("vec_id"))
      val ivf = graft.vec.VectorOps
        .ivfTopK(Synth.embeddings(s, dir), col("vec_id") < 3, 10)
        .select(col("qid").as("qid2"), col("vec_id").as("vid2"))
      brute.join(ivf, col("qid") === col("qid2") &&
          col("vec_id") === col("vid2"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"), count(col("vid2")).as("n_common"))
        .withColumn("recall_q",
          graft.ops.Tiling.idiv(col("n_common") * 1048576L, col("k")))
        .orderBy("qid")
    },
      // recall@10 ground truth: the two existing ANN oracles embedded
      // verbatim as CTE bodies, joined on (qid, vec_id)
      Some(s"""WITH abr AS ($CosineTopkOracleSql),
         |aiv AS ($IvfOracleSql)
         |SELECT abr.qid, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(aiv.vec_id) AS BIGINT) AS n_common,
         |  CAST((COUNT(aiv.vec_id) * 1048576) // COUNT(*) AS BIGINT)
         |    AS recall_q
         |FROM abr LEFT JOIN aiv ON aiv.qid = abr.qid
         |  AND aiv.vec_id = abr.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
