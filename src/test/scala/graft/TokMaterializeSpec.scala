package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Round-6 optimization pin: the gram/shingle builders materialize the
  * token array before lambda consumption (withTokArr) instead of
  * referencing the derived split(text) expression inside interpreted
  * lambdas. This spec re-derives each op's output with the ORIGINAL
  * un-materialized expression form and asserts row-identical results,
  * including the split edge cases (trailing spaces keep empty tokens,
  * docs shorter than the gram width, empty text). */
class TokMaterializeSpec extends SparkSuite {

  // edge-heavy corpus: repeated substrings (dup spans), trailing space
  // (split keeps the empty token), single token, empty text, repeated
  // grams within one doc (repetition max), shared bigrams across docs
  lazy val corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e a b c d e a b"),
      (2L, "a b c d e x y z w q"),
      (3L, "x y z w q a b c d e"),
      (4L, "solo"),
      (5L, ""),
      (6L, "t u v "),        // trailing space -> empty last token
      (7L, "a a a a a a a a"),
      (8L, "p q r s t u v w x y z a b c")
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
  }

  private def toks: Column = split(col("text"), " ")

  // sorted multiset, so a duplicated or dropped row fails the compare
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("ngramCounts == un-materialized expression form") {
    val n = 2
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array())
    val ref = corpus.select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram")).limit(50)
    assert(rows(TextOps.ngramCounts(corpus, 2, 50)) === rows(ref))
  }

  test("winnow == un-materialized expression form") {
    import org.apache.spark.sql.expressions.Window
    val k = 3; val w = 4
    val g = corpus.where(size(toks) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(toks) - (k - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(k)))))))
      .toDF("doc_id", "pos", "gh")
    val fr = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val ref = g.withColumn("nwin", count(lit(1)).over(fr))
      .withColumn("m",
        min(struct(col("gh"), (-col("pos")).as("np"))).over(fr))
      .where(col("nwin") === w)
      .select(col("doc_id"), (-col("m.np")).cast("long").as("pos"),
        col("m.gh").as("gh"))
      .distinct()
    assert(rows(TextOps.winnow(corpus, 3, 4)) === rows(ref))
  }

  test("dupSpans == un-materialized expression form") {
    import org.apache.spark.sql.expressions.Window
    val l = 4
    val g = corpus.where(size(toks) >= l)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(toks) - (l - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(l)))))))
      .toDF("doc_id", "pos", "gh")
    val dupKeys = g.groupBy("gh").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("gh")
    val dup = g.join(dupKeys, Seq("gh"), "left_semi")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val ref = dup
      .withColumn("st",
        when(lag("pos", 1).over(wd).isNull ||
          col("pos") - lag("pos", 1).over(wd) > l, 1).otherwise(0))
      .withColumn("island", sum("st")
        .over(wd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("doc_id"), col("island").as("span_id"))
      .agg(min("pos").cast("long").as("start_tok"),
        (max("pos") + l - 1).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
        col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"),
        col("n_windows"))
    assert(rows(TextOps.dupSpans(corpus, 4)) === rows(ref))
    assert(TextOps.dupSpans(corpus, 4).count() > 0) // fixture really dups
  }

  test("shingle-set consumers == un-materialized expression form") {
    val sh = array_distinct(when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i),
          element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array(col("text"))))
    val withSh = corpus.select(col("doc_id"), sh.as("sh"))
    val a = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val ref = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jac", col("n_inter") / col("n_union"))
      .where(col("jac") >= 0.01)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
    assert(rows(TextOps.jaccardPairs(corpus, 0.01)) === rows(ref))
  }

  test("repetitionStats == un-materialized expression form") {
    def grams(n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    def maxCount(g: Column): Column =
      coalesce(
        array_max(transform(array_distinct(g),
          x => size(filter(g, y => y === x)))),
        lit(0)).cast("long")
    val g2 = grams(2); val g3 = grams(3)
    val ref = corpus.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      (size(toks) - size(array_distinct(toks))).cast("long")
        .as("n_dup_words"),
      size(g2).cast("long").as("n_2grams"),
      maxCount(g2).as("max_2gram"),
      size(g3).cast("long").as("n_3grams"),
      maxCount(g3).as("max_3gram"))
    assert(rows(TextOps.repetitionStats(corpus)) === rows(ref))
  }

  test("pmiBigrams and lmCoverage == un-materialized expression forms") {
    val pairs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2"))))
      .otherwise(array())
    val uni = corpus.select(explode(toks).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).cast("long").as("ntok"))
    val big = corpus.select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= 2)
    val refPmi = big
      .join(uni.select(col("t").as("w1"), col("cu").as("ca")), "w1")
      .join(uni.select(col("t").as("w2"), col("cu").as("cb")), "w2")
      .crossJoin(broadcast(total))
      .select(concat_ws(" ", col("w1"), col("w2")).as("gram"),
        col("c12").cast("long").as("c12"),
        col("ca").cast("long").as("ca"),
        col("cb").cast("long").as("cb"),
        expr("CAST((10000 * c12 * ntok) div (ca * cb) AS BIGINT)")
          .as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("gram"))
      .limit(40)
    assert(rows(TextOps.pmiBigrams(corpus, 2, 40)) === rows(refPmi))

    val grams2 = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array())
    val bi = corpus.select(col("doc_id"), explode(grams2).as("gram"))
    val dfT = bi.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("df"))
    val refCov = bi.join(dfT, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_attested"))
      .withColumn("cov_q",
        graft.ops.Tiling.idiv(col("n_attested") * 1048576L,
          col("n_bigrams")))
    assert(rows(TextOps.lmCoverage(corpus, 2L)) === rows(refCov))
  }
}
