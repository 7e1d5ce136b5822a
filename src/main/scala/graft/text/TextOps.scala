package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators over the `documents` table — the
  * training-data-pipeline surface (dedup, fingerprinting, language id,
  * quality scoring, token stats). Everything is built from codegen'd
  * `functions._` higher-order expressions (no UDFs), and every
  * derivation is reproducible in plain SQL so the DuckDB oracle can
  * check values exactly (md5 is the cross-engine hash).
  *
  * Scale notes: all ops are per-row projections except the dedup
  * group-bys, which shuffle on a hash key (uniformly distributed by
  * construction — no skew), and the LSH band histogram (bounded key
  * cardinality; map-side partial aggregation applies).
  */
object TextOps {

  def toks: Column = split(col("text"), " ")

  /** Materialize the token array ONCE before lambda-heavy consumption
    * (guide §4 / the minhashFast lesson): higher-order-function
    * lambdas are codegen-fallback, so a lambda body that references
    * the DERIVED [[toks]] expression re-runs the whole `split(text)`
    * on every element access — O(|toks|²) interpreted work per doc
    * for a gram builder. Projecting the split into a real column
    * first makes each lambda access an O(1) array read (Catalyst's
    * CollapseProject leaves the projection alone: the alias is
    * referenced many times and `split` is not collapse-cheap).
    * Purely a common-subexpression materialization — every consumer
    * computes identical values. */
  private def withTokArr(docs: DataFrame, as: String = "__tk"): DataFrame =
    docs.withColumn(as, toks)

  private def termCount(term: String): Column =
    size(filter(toks, t => t === lit(term))).cast("long")

  /** Token statistics: counts are exact integers. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq"),
      termCount("the").as("n_the"),
      termCount("a").as("n_a"))

  /** BPE-ish subword token count: every whitespace token splits into
    * ceil(len/4) subword pieces — the deterministic stand-in for a BPE
    * tokenizer's token-count estimate (≈4 chars/token, the
    * rule-of-thumb LLM pipelines budget with). Exact integers, SQL
    * mirror in the oracle. */
  def subwordStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_words"),
      aggregate(toks, lit(0L),
        (acc, t) => acc + floor((length(t) + 3) / 4).cast("long"))
        .as("n_subtokens"))

  /** Quality score: lexical-diversity + stopword ratios (double math is
    * a single division of exact longs — bit-reproducible). */
  def quality(docs: DataFrame): DataFrame =
    tokenStats(docs)
      .withColumn("uniq_ratio", col("n_uniq") / col("n_tokens"))
      .withColumn("stop_ratio", (col("n_the") + col("n_a")) / col("n_tokens"))

  /** Gopher-style intra-document REPETITION statistics (the rule set
    * that removes boilerplate/spam before training): per doc, the
    * total and most-frequent-gram counts for 2-grams and 3-grams plus
    * the duplicate-word count — all exact integers (consumers form the
    * "fraction in most common n-gram" thresholds by division). Pure
    * per-row higher-order expressions: no shuffle, codegen'd, and the
    * max-count scan is bounded by the doc's distinct-gram count. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val tk = col("__tk")
    def grams(n: Int): Column =
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    // g2/g3 are materialized columns, NOT inline expressions: maxCount
    // references its gram array inside two nested lambdas, which would
    // otherwise re-build the whole gram array (itself re-splitting the
    // text) per distinct gram — cubic per-doc work
    def maxCount(g: Column): Column =
      coalesce(
        array_max(transform(array_distinct(g),
          x => size(filter(g, y => y === x)))),
        lit(0)).cast("long")
    withTokArr(docs)
      .withColumn("__g2", grams(2))
      .withColumn("__g3", grams(3))
      .select(
        col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        (size(tk) - size(array_distinct(tk))).cast("long")
          .as("n_dup_words"),
        size(col("__g2")).cast("long").as("n_2grams"),
        maxCount(col("__g2")).as("max_2gram"),
        size(col("__g3")).cast("long").as("n_3grams"),
        maxCount(col("__g3")).as("max_3gram"))
  }

  /** n-gram-marker language ID heuristic (deterministic argmax with
    * fixed tie order en > fr > de). */
  def langId(docs: DataFrame): DataFrame = {
    val en = termCount("the") + termCount("a")
    val fr = termCount("le") + termCount("la")
    val de = termCount("der") + termCount("und")
    docs.select(col("doc_id"), col("lang"),
      when(en >= fr && en >= de && en > 0, "en")
        .when(fr >= de && fr > 0, "fr")
        .when(de > 0, "de")
        .otherwise("unk").as("lang_pred"))
  }

  /** Document fingerprint: md5 over a structural digest (first/last
    * tokens + length) — the cheap rolling-hash analog. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(concat_ws("|",
        element_at(toks, 1), element_at(toks, 2), element_at(toks, 3),
        element_at(toks, -1), col("n_chars").cast("string"))).as("fp"))

  /** PII / URL scrub — the redaction stage of a training-data curation
    * pipeline: email-shaped tokens (`%@%.%`) become `<EMAIL>`,
    * URL-shaped tokens (`http://%` | `https://%` | `www.%`) become
    * `<URL>`. Deliberately TOKEN-level and LIKE-only (no regex): SQL
    * LIKE with `%` is semantically identical across engines, so the
    * scrubbed text and redaction counts are bit-reproducible by the
    * DuckDB oracle — a regex formulation would hinge on dialect
    * (Java vs RE2) corner cases. Returns (doc_id, scrubbed,
    * n_redacted). */
  def scrub(docs: DataFrame): DataFrame = {
    val isEmail = (t: Column) => t.like("%@%.%")
    val isUrl = (t: Column) =>
      t.like("http://%") || t.like("https://%") || t.like("www.%")
    val red = transform(toks, t =>
      when(isEmail(t), "<EMAIL>").when(isUrl(t), "<URL>").otherwise(t))
    docs.select(col("doc_id"),
      concat_ws(" ", red).as("scrubbed"),
      size(filter(toks, t => isEmail(t) || isUrl(t)))
        .cast("long").as("n_redacted"))
  }

  /** Exact dedup: hash-groupBy on md5(text); one row per group. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc_id"))

  /** Normalized near-dup key: lower-cased text (input corpus is already
    * punctuation-free; the normalizer composes lower+trim). */
  def dedupNormalized(docs: DataFrame): DataFrame =
    docs.groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc_id"))

  /** Exact duplicate-SUBSTRING-span detection — the suffix-array-style
    * "remove any substring repeated verbatim anywhere in the corpus"
    * dedup of Lee et al. 2022 (Deduplicating Training Data Makes
    * Language Models Better, arXiv:2107.06499), re-expressed for a
    * distributed engine: instead of one global suffix array (which
    * needs the whole corpus on one machine), every L-token window is a
    * seed gram; a window is DUPLICATED iff its gram occurs at ≥ 2
    * corpus positions (across or within docs — any repeated substring
    * of length ≥ L contains at least one repeated L-window, so seed
    * recall is exact); per doc, overlapping/adjacent duplicated
    * windows (start-index gap ≤ L) merge into maximal token spans via
    * gaps-and-islands. One row per maximal span: (doc_id, span_id,
    * start_tok, end_tok inclusive, span_tokens, n_windows).
    *
    * Scale: the frequency pass is a groupBy-count on the md5 gram key
    * (HashAggregate with MAP-SIDE PARTIALS — a boilerplate gram with
    * 10⁹ occurrences arrives at its reducer pre-combined to ≤ one row
    * per map task, where the earlier count-over-window formulation put
    * all 10⁹ rows in one window partition = one hot task), then a
    * left-semi join of the gram rows against the c ≥ 2 keys; with AQE
    * skew-join on, an oversized semi-join partition is split at
    * runtime. The island pass shuffles only the surviving duplicated
    * windows by doc (per-doc window counts bounded by doc length).
    * Every step is plain SQL (md5 + aggregate + window) — the DuckDB
    * oracle re-derives spans exactly (its count-over-window mirror is
    * row-equivalent to count-groupBy + semi-join). */
  def dupSpans(docs: DataFrame, L: Int = 4): DataFrame =
    dupIslands(docs, L)
      .groupBy(col("doc_id"), col("island").as("span_id"))
      .agg(min("pos").cast("long").as("start_tok"),
        (max("pos") + L - 1).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
        col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"),
        col("n_windows"))

  /** Shared core of [[dupSpans]]/[[dupSpanScrub]]: duplicated seed
    * windows (gram corpus-frequency ≥ 2) tagged with their per-doc
    * island number. Columns: doc_id, pos, gh, island. */
  private def dupIslands(docs: DataFrame, L: Int): DataFrame = {
    val tk = col("__tk")
    val g = withTokArr(docs).where(size(tk) >= L)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(tk) - (L - 1)),
          i => md5(concat_ws(" ", slice(tk, i, lit(L)))))))
      .toDF("doc_id", "pos", "gh")
    // duplicated gram keys via partial-aggregated count (skew-safe:
    // map-side combine bounds any one gram's reducer input by the map
    // task count), then keep only gram rows whose key survives
    val dupKeys = g.groupBy("gh").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("gh")
    val dup = g.join(dupKeys, Seq("gh"), "left_semi")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("st",
        when(lag("pos", 1).over(wd).isNull ||
          col("pos") - lag("pos", 1).over(wd) > L, 1).otherwise(0))
      .withColumn("island", sum("st")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("st")
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — public algorithm): hash every k-token gram (md5),
    * slide a window of `w` consecutive hashes, record each window's
    * MINIMUM hash with the RIGHTMOST position breaking ties, and
    * deduplicate. Guarantee (the paper's correctness property): any
    * substring match of ≥ w+k−1 tokens between two docs shares at
    * least one selected fingerprint — so fingerprints support
    * substring-level near-dup candidate generation at ~2/(w+1) the
    * gram volume of [[dupSpans]]' full seed set. Docs shorter than
    * w+k−1 tokens have no full window and emit nothing.
    *
    * One row per selected (doc_id, pos, gh). Scale: a per-row explode
    * + two window passes partitioned by doc — no corpus-wide shuffle
    * at all until a consumer groups by fingerprint; the rightmost
    * argmin is the lexicographic min of (hash, −pos), identical in
    * any SQL engine (min-of-struct over a row frame). */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val tk = col("__tk")
    val g = withTokArr(docs).where(size(tk) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(tk) - (k - 1)),
          i => md5(concat_ws(" ", slice(tk, i, lit(k)))))))
      .toDF("doc_id", "pos", "gh")
    val fr = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    g.withColumn("nwin", count(lit(1)).over(fr))
      .withColumn("m", min(struct(col("gh"), (-col("pos")).as("np"))).over(fr))
      .where(col("nwin") === w)
      .select(col("doc_id"), (-col("m.np")).cast("long").as("pos"),
        col("m.gh").as("gh"))
      .distinct()
  }

  /** Duplicate-span EXCISION — the apply stage of [[dupSpans]], with
    * Lee et al. 2022's keep-one-occurrence rule made deterministic for
    * a distributed engine: a maximal span SURVIVES only in the doc
    * that owns the corpus-first occurrence (lexicographic min
    * (doc_id, pos) over ALL corpus positions) of the span's FIRST
    * duplicated window gram; everywhere else the span's token range is
    * excised and the doc's text is rebuilt from the surviving tokens.
    * Per-doc spans are disjoint by construction (maximal islands are
    * separated by start-gaps > L), so excised token counts are exact.
    * Returns every input doc: (doc_id, kept_text, n_spans_removed,
    * n_tokens_removed).
    *
    * Scale: adds to [[dupSpans]] one nb-bounded aggregate per gram key
    * (the corpus-argmin, same md5-key shuffle) plus a per-doc
    * collect_list of its removed spans — list length is bounded by
    * doc length / L, so the rebuild stays a per-row projection. */
  def dupSpanScrub(docs: DataFrame, L: Int = 4): DataFrame = {
    val isl = dupIslands(docs, L)
    // corpus-first occurrence per gram key (min struct = lexicographic)
    val first = isl
      .groupBy("gh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("fo"))
    // span rows carrying their first window's gram key
    val spans = isl
      .groupBy(col("doc_id"), col("island"))
      .agg(min(struct(col("pos"), col("gh"))).as("fw"),
        min("pos").as("s"), (max("pos") + L - 1).as("e"))
      .select(col("doc_id"), col("fw.gh").as("gh"),
        col("s"), col("e"))
    val removed = spans.join(first, "gh")
      .where(!(col("doc_id") === col("fo.doc_id") &&
        col("s") === col("fo.pos")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("rs"))
    docs.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(toks, (_, i) =>
          !exists(coalesce(col("rs"),
              array().cast("array<struct<s:int,e:int>>")),
            r => i >= r.getField("s") && i <= r.getField("e"))))
          .as("kept_text"),
        coalesce(size(col("rs")), lit(0)).cast("long")
          .as("n_spans_removed"),
        coalesce(aggregate(col("rs"), lit(0),
            (acc, r) => acc + r.getField("e") - r.getField("s") + 1),
          lit(0)).cast("long").as("n_tokens_removed"))
  }

  /** MinHash signatures over 3-token shingles with `n` md5-salted hash
    * functions: sig_j = min over shingles of md5(j || shingle). Pure
    * higher-order expressions; exactly reproducible in SQL. */
  def minhash(docs: DataFrame, n: Int = 4): DataFrame = {
    val tk = col("__tk")
    val shingles = when(size(tk) >= 3,
      transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ",
          element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))
      .otherwise(array(col("text")))
    val withSh = withTokArr(docs).withColumn("sh", shingles)
    (0 until n).foldLeft(withSh) { (df, j) =>
      df.withColumn(s"h$j",
        array_min(transform(col("sh"), s => md5(concat(lit(j.toString), s)))))
    }.select(col("doc_id") +: (0 until n).map(j => col(s"h$j")): _*)
  }

  /** Compiled minhash kernel — IDENTICAL signatures to [[minhash]]
    * (same shingles, same md5-hex strings, same lexicographic min,
    * same trailing-empty-token split semantics; asserted by LshSpec),
    * ~4× faster than the higher-order-expression spec: Spark's
    * transform/aggregate lambdas are codegen-fallback and re-hash
    * through expression interpretation, while this is the codegen
    * [[graft.expr.MinhashSig]] expression — generated Java calls the
    * static [[graft.expr.Kernels.minhashSig]] (one tight loop, reused
    * MessageDigest, no udf encoder round-trip; round 4 promoted the
    * former Scala udf). The corpus-scale candidate join uses this
    * path; the expression version remains the SQL-mirrorable spec. */
  def minhashFast(docs: DataFrame, n: Int = 4): DataFrame = {
    graft.expr.GraftFunctions.register(docs.sparkSession)
    docs.withColumn("sigs",
        call_function("graft_minhash", col("text"), lit(n)))
      .select(col("doc_id") +:
        (0 until n).map(j => col("sigs").getItem(j).as(s"h$j")): _*)
  }

  /** LSH band-occupancy histogram over a 2-hex-char prefix of sig h0
    * (256 buckets) — a MONITORING view of the signature distribution.
    * The candidate-pair join itself bands on FULL signatures
    * ([[jaccardPairsLsh]]); this coarse histogram is what an operator
    * dashboards to spot corpus-level skew. */
  def minhashBands(docs: DataFrame): DataFrame =
    minhash(docs, 1)
      .groupBy(substring(col("h0"), 1, 2).as("band"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc_id"))

  /** DISTINCT 3-token-shingle set (the Jaccard universe). */
  def shingleSet: Column = shingleSetOf(toks)

  /** [[shingleSet]] over an ALREADY-MATERIALIZED token-array column —
    * the lambda then reads the array in O(1) per element instead of
    * re-running `split(text)` (see [[withTokArr]]). */
  private def shingleSetOf(tk: Column): Column =
    array_distinct(when(size(tk) >= 3,
      transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ",
          element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))
      .otherwise(array(col("text"))))

  /** (doc_id, sh) projection shared by the Jaccard/containment ops. */
  private def shingleSets(docs: DataFrame): DataFrame =
    withTokArr(docs)
      .select(col("doc_id"), shingleSetOf(col("__tk")).as("sh"))

  private def jaccardVerify(cand: DataFrame, docs: DataFrame,
                            threshold: Double): DataFrame = {
    val sets = shingleSets(docs)
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .where(col("n_inter") / col("n_union") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
  }

  /** Exact n-gram (3-token shingle) Jaccard near-dup pairs over a
    * bounded candidate set: |A∩B| / |A∪B| on DISTINCT shingle sets.
    * The sizes are exact integers, so the similarity threshold is
    * bit-reproducible in SQL. ALL-PAIRS — only for bounded inputs; the
    * corpus-scale path is [[jaccardPairsLsh]]. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val withSh = shingleSets(docs)
    val a = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jac", col("n_inter") / col("n_union"))
      .where(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
  }

  /** Broder CONTAINMENT similarity (the asymmetric twin of Jaccard,
    * Broder 1997): cont(A→B) = |A∩B|/|A| — the right dedup metric
    * when one document EMBEDS another (quote inclusion, header
    * wrapping, near-superset crawls), where Jaccard is diluted by the
    * length gap. Both directions as exact scaled integers
    * 10⁶·inter div |sh|; pairs kept when the LARGER direction clears
    * `minContScaled`. This exact variant is the verification metric —
    * at corpus scale candidates come from [[jaccardPairsLsh]]'s band
    * join (a shared shingle min is exactly what an embedded copy
    * produces), never from the cross join used here on the bounded
    * oracle slice. */
  def containmentPairs(docs: DataFrame, minContScaled: Long): DataFrame = {
    val withSh = shingleSets(docs)
    val a = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("cont_a", expr("(1000000 * n_inter) div n_a"))
      .withColumn("cont_b", expr("(1000000 * n_inter) div n_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= minContScaled)
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "cont_a", "cont_b")
  }

  /** CORPUS-SCALE near-dup pairs: MinHash-band candidate generation +
    * exact Jaccard verification — no cross join anywhere.
    *
    *   1. nSigs MinHash signatures per doc; band key = the FULL
    *      signature (one md5 per band, keyspace 16³²): two docs are
    *      candidates in band j iff their j-th minhash is IDENTICAL
    *      (they share the band's min shingle). Key cardinality grows
    *      with the corpus — at 10¹² rows the expected bucket is the
    *      per-shingle duplicate group, not N/const (a fixed-width
    *      prefix key would make candidate generation Θ(N²/K));
    *   2. candidates = docs sharing any (band index, band key) — an
    *      equi-join on the band key;
    *   3. pair dedup via `distinct` on the (much smaller) candidate
    *      set, then exact Jaccard on the joined-back shingle sets.
    *
    * A true pair at Jaccard similarity s survives banding with
    * probability 1−(1−s)^b (r=1 row, b=nSigs bands; P[one minhash
    * matches] = s exactly) — recall vs [[jaccardPairs]] is measured in
    * LshSpec, as is the sub-quadratic candidate count. At 10¹² rows
    * this plan shuffles candidates + shingle sets, never N². */
  def jaccardPairsLsh(docs: DataFrame, threshold: Double,
                      nSigs: Int = 4): DataFrame =
    jaccardVerify(jaccardCandidatesLsh(docs, nSigs), docs, threshold)

  /** The candidate-pair stage of [[jaccardPairsLsh]], exposed so specs
    * can assert the candidate count stays sub-quadratic. */
  def jaccardCandidatesLsh(docs: DataFrame, nSigs: Int = 4): DataFrame = {
    val sig = minhashFast(docs, nSigs)
    val bandStructs = (0 until nSigs).map(j =>
      struct(lit(j).as("bj"), col(s"h$j").as("bk")))
    val bands = sig.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.bj").as("bj"), col("b.bk").as("bk"))
    bands.select(col("doc_id").as("id_a"), col("bj"), col("bk"))
      .join(bands.select(col("doc_id").as("id_b"), col("bj"), col("bk")),
        Seq("bj", "bk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** VOCABULARY induction — the token-frequency table a tokenizer/BPE
    * trainer starts from: per term, document frequency (distinct docs)
    * and collection frequency (total occurrences), top-N by cf with a
    * deterministic term tie-break. One explode + one hash aggregate;
    * map-side partial aggregation absorbs the token fan-out, the
    * driver sees only N rows. */
  def vocab(docs: DataFrame, topN: Int): DataFrame =
    docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"),
           count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("term"))
      .limit(topN)

  /** KEYWORD extraction — per-document top-`k` terms ranked by term
    * frequency desc, then document frequency asc (tf-idf's ordering
    * without the non-portable log: for fixed tf, rarer-in-corpus wins),
    * then term asc. All-integer/lexicographic ranking → the DuckDB
    * oracle replays it exactly. Plan: one token explode → per-(doc,
    * term) hash agg (map-side combined) → broadcast-join the term df
    * table → per-doc window top-k; the df table is vocabulary-sized,
    * not corpus-sized. */
  def keywords(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(broadcast(df), Seq("term"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"))
  }

  /** Dictionary ENCODING (tokenizer apply): map every token to its id
    * in the induced top-`topN` [[vocab]] (rank by cf desc, term asc,
    * 1-based; out-of-vocabulary → 0) and emit per doc the token
    * count, OOV count and the position-weighted id checksum
    * Σ id(pos)·pos — the id sequence itself verified without
    * materializing it. The vocab is a bounded aggregate (top-N rows)
    * broadcast to the encode join: at any corpus scale the encode
    * pass is one explode + one broadcast hash probe + one
    * map-side-combined aggregate; the only full shuffle is the
    * vocab induction itself. */
  def encodeIds(docs: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // row_number over the already-bounded topN rows (single
    // partition by construction — constant-sized, not a data window)
    val voc = vocab(docs, topN)
      .withColumn("id",
        row_number().over(Window.orderBy(col("cf").desc, col("term"))))
      .select("term", "id")
    docs.select(col("doc_id"), posexplode(toks).as(Seq("pos0", "term")))
      .withColumn("pos", (col("pos0") + 1).cast("long"))
      .join(broadcast(voc), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("id").cast("long"), lit(0L)) * col("pos"))
          .as("ids_checksum"))
  }

  /** BM25 retrieval scoring (Robertson–Spärck Jones probabilistic
    * ranking, k1 = 1.2, b = 0.75) kept EXACT-RATIONAL so the ranking
    * is oracle-checkable: with N docs, L total tokens, the term score
    *   idf · tf·(k1+1) / (tf + k1·(1−b+b·dl·N/L)),
    *   idf = (N−df+0.5)/(df+0.5)
    * clears all denominators into two BIGINTs
    *   score_num = (2N−2df+1)·22·tf·L
    *   score_den = (2df+1)·(10·L·tf + 3·L + 9·dl·N)
    * — no log/float in the score itself; ranking divides the two
    * exact integers once (correctly-rounded IEEE division, identical
    * across engines), ties broken by doc_id.
    *
    * Query terms = the `nQueryTerms` highest-df terms (deterministic).
    * Plan shape at scale: ONE data-sized shuffle builds the postings
    * (term, doc, tf) — the doc length rides along inside the same
    * aggregate (max of a per-doc constant), so no second docs-sized
    * join; the query-term set and the 1-row corpus totals broadcast to
    * the probe, so scoring touches only the query terms' postings; the
    * per-term top-`topK` window runs over that bounded candidate set. */
  def bm25(docs: DataFrame, nQueryTerms: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dl = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("total_len"))
    val postings = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val dfs = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = dfs.orderBy(col("df").desc, col("term"))
      .limit(nQueryTerms)
    val num = (lit(2) * col("n_docs") - lit(2) * col("df") + 1) *
      lit(22) * col("tf") * col("total_len")
    val den = (lit(2) * col("df") + 1) *
      (lit(10) * col("total_len") * col("tf") + lit(3) * col("total_len") +
        lit(9) * col("dl") * col("n_docs"))
    val rank = row_number().over(Window.partitionBy("term")
      .orderBy((col("score_num").cast("double") /
        col("score_den").cast("double")).desc, col("doc_id")))
    postings
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(totals))
      .withColumn("score_num", num).withColumn("score_den", den)
      .withColumn("rank", rank.cast("long"))
      .filter(col("rank") <= topK)
      .select("term", "rank", "doc_id", "tf", "df", "dl",
        "score_num", "score_den")
  }

  /** n-gram (token) counts — language-model count tables; same plan
    * shape as [[vocab]] over the n-gram explode. */
  def ngramCounts(docs: DataFrame, n: Int, topN: Int): DataFrame = {
    val tk = col("__tk")
    val grams = when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j)): _*)))
      .otherwise(array())
    withTokArr(docs).select(explode(grams).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(topN)
  }

  /** Collocation mining: pointwise mutual information over bigrams
    * (Church & Hanks 1990, "Word association norms, mutual
    * information, and lexicography" — public literature). PMI =
    * log p(w1w2)/(p(w1)p(w2)); monotone in the RATIO, so the op
    * ranks by the exact scaled integer ratio
    * pmi_scaled = ⌊scale·c12·N / (c1·c2)⌋ and never touches a float —
    * the oracle replays it bit-for-bit. (At corpus sizes where
    * scale·c12·N exceeds Int64 — N ≳ 10⁹ tokens — promote the
    * numerator to DecimalType(38,0); the ordering is unchanged.)
    *
    * Plan: one token explode → unigram aggregate, one bigram explode
    * → bigram aggregate (both map-side combined, keys = vocab-sized),
    * the rare-pair filter c12 ≥ minCount BEFORE the unigram joins, a
    * broadcast of the token total. No all-pairs anywhere.
    *
    * @return top-N (gram, c12, ca, cb, pmi_scaled) by PMI desc, gram
    */
  def pmiBigrams(docs: DataFrame, minCount: Long, topN: Int,
                 scale: Long = 10000L): DataFrame = {
    val uni = docs.select(explode(toks).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).cast("long").as("ntok"))
    val tk = col("__tk")
    val pairs = when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => struct(element_at(tk, i).as("w1"),
          element_at(tk, i + 1).as("w2"))))
      .otherwise(array())
    val big = withTokArr(docs).select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    big
      .join(uni.select(col("t").as("w1"), col("cu").as("ca")), "w1")
      .join(uni.select(col("t").as("w2"), col("cu").as("cb")), "w2")
      .crossJoin(broadcast(total))
      .select(concat_ws(" ", col("w1"), col("w2")).as("gram"),
        col("c12").cast("long").as("c12"),
        col("ca").cast("long").as("ca"),
        col("cb").cast("long").as("cb"),
        expr(s"CAST(($scale * c12 * ntok) div (ca * cb) AS BIGINT)")
          .as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("gram"))
      .limit(topN)
  }

  /** Deterministic train/val split — content-independent, stable under
    * reshuffles and re-runs (a training-data pipeline must never let
    * the split depend on partitioning): bucket = first 4 hex chars of
    * md5(doc_id) as an integer (0..65535), val iff bucket < 65536·pct.
    * Pure projection, no state, exactly reproducible in SQL. */
  def splitAssign(docs: DataFrame, valPermille: Int): DataFrame = {
    val bucket = (0 until 4).map { i =>
      (instr(lit("0123456789abcdef"),
        substring(md5(col("doc_id").cast("string")), i + 1, 1)) - 1) *
        lit(1L << (4 * (3 - i)))
    }.reduce(_ + _)
    docs.select(col("doc_id"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") * 1000 < valPermille * 65536, "val")
          .otherwise("train"))
  }

  /** First 4 hex chars of md5(`e`) as an integer 0..65535 — the
    * content-independent, reshuffle-stable sampling hash every
    * deterministic selection op here keys on. */
  private[graft] def md5Bucket(e: Column): Column =
    (0 until 4).map { i =>
      (instr(lit("0123456789abcdef"), substring(md5(e), i + 1, 1)) - 1) *
        lit(1L << (4 * (3 - i)))
    }.reduce(_ + _)

  /** Deterministic WEIGHTED top-k sampling (the exp-keys / A-ES shape
    * with a rational priority): each doc draws the content-independent
    * uniform h = md5Bucket(doc_id:salt) ∈ [0, 65536) and is ranked by
    * priority h/w ascending (w = the weight column, here token count)
    * — heavier docs stochastically draw smaller priorities, so the
    * k winners are weight-biased, reshuffle-stable, and redrawable by
    * salt. The priority is ONE IEEE division of two exact integers
    * (engine-identical, no ln), ties broken by doc_id.
    *
    * Scale: rank-by-priority top-k is a TakeOrdered (per-partition
    * heap + k-row merge), never a global sort shuffle. */
  def sampleWeighted(docs: DataFrame, weight: Column, k: Int,
                     salt: Int = 0): DataFrame = {
    val h = md5Bucket(concat(col("doc_id").cast("string"),
      lit(":"), lit(salt)))
    docs.select(col("doc_id"), weight.cast("long").as("w"),
        h.cast("long").as("h"))
      .withColumn("priority",
        col("h").cast("double") / col("w").cast("double"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
  }

  /** Deterministic STRATIFIED sampling — per-stratum keep rates (the
    * data-mixing stage of a training pipeline: e.g. keep 50% of en,
    * 10% of de). A doc survives iff md5(doc_id:salt) lands under its
    * stratum's permille threshold: content-independent, stable under
    * reshuffles/re-runs, and changing `salt` redraws an independent
    * sample. Pure filter projection — predicate-pushdown-friendly,
    * no shuffle, no state at any scale. Unlisted strata drop. */
  def sampleStratified(docs: DataFrame, ratesPermille: Seq[(String, Int)],
                       salt: String): DataFrame =
    docs.where(sampleFlag(ratesPermille, salt))

  /** The per-row survival predicate of [[sampleStratified]], exposed
    * as a flag column so composite pipelines can report it without
    * filtering. */
  private[graft] def sampleFlag(ratesPermille: Seq[(String, Int)],
                                salt: String): Column = {
    val bucket = md5Bucket(concat(col("doc_id").cast("string"),
      lit(":"), lit(salt)))
    val rate = ratesPermille.foldRight(lit(0)) { case ((l, p), acc) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    bucket * 1000 < rate * 65536
  }

  /** End-to-end CURATION pipeline — the composed keep decision of a
    * training-data run, one row per document with a 0/1 flag per
    * stage and the final conjunction:
    *
    *   1. pass_lang — [[langId]] recognizes a language (pred ≠ unk);
    *   2. pass_quality — lexical-diversity and stopword-ratio bounds,
    *      expressed in INTEGER cross-multiplied form (9·uniq ≥ 4·n,
    *      10·stop ≤ n) so the oracle replay has no float threshold;
    *   3. is_canonical — the doc is its MinHash-LSH near-dup
    *      cluster's minimum ([[graft.graph.ConnectedComponents
    *      .dedupClusters]] keep rule);
    *   4. is_clean — not flagged by [[decontaminate]] against the
    *      `doc_id % benchMod == 0` benchmark subset;
    *   5. sampled — the [[sampleStratified]] draw.
    *
    * Every stage is a doc_id-keyed flag join (broadcast-sized flag
    * sets at any corpus scale come only from stages 3-4, whose edge/
    * hit sets are corpus-sublinear; 1, 2 and 5 are projections). */
  def curate(docs: DataFrame, ratesPermille: Seq[(String, Int)],
             salt: String, benchMod: Int = 17,
             simThreshold: Double = 0.01): DataFrame = {
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    // stages 1, 2 and 5 are pure per-row expressions — computed
    // INLINE (zero joins/shuffles for them); only the cluster keep
    // (3) and the contamination hit set (4) are genuine joins
    val en = termCount("the") + termCount("a")
    val fr = termCount("le") + termCount("la")
    val de = termCount("der") + termCount("und")
    val nTok = size(toks).cast("long")
    val nUniq = size(array_distinct(toks)).cast("long")
    val inline = docs.select(col("doc_id"),
      flag((en >= fr && en >= de && en > 0) ||
           (fr >= de && fr > 0) || de > 0).as("pass_lang"),
      flag(nUniq * 9 >= nTok * 4 && en * 10 <= nTok).as("pass_quality"),
      flag(sampleFlag(ratesPermille, salt)).as("sampled"))
    val canon = graft.graph.ConnectedComponents
      .dedupClusters(docs, simThreshold)
      .select(col("doc_id"), flag(col("keep")).as("is_canonical"))
    val dirty = decontaminate(docs,
        docs.where(col("doc_id") % benchMod === 0), n = 3, minHits = 2)
      .select(col("doc_id")).distinct()
      .withColumn("dirty", lit(1L))
    inline
      .join(canon, Seq("doc_id"))
      .join(dirty, Seq("doc_id"), "left")
      .withColumn("is_clean", when(col("dirty").isNull, 1L).otherwise(0L))
      .drop("dirty")
      .select(col("doc_id"), col("pass_lang"), col("pass_quality"),
        col("is_canonical"), col("is_clean"), col("sampled"),
        (col("pass_lang") * col("pass_quality") * col("is_canonical") *
          col("is_clean") * col("sampled")).as("keep"))
  }

  /** Concat-and-chunk SEQUENCE PACKING (how LLM pre-training shapes
    * documents into fixed-length samples): docs are laid end-to-end in
    * (shard, doc_id) order and cut into `budget`-token sequences; a
    * doc may straddle two cuts. Emits each doc's token interval and
    * first/last sequence ids. The layout is SHARDED — the running
    * offset is a window cumsum PARTITION BY shard (an md5 bucket of
    * doc_id mod `nShards`), never a single global sort: per-shard
    * windows parallelize across the cluster at 10¹² docs, while a
    * global ORDER BY window would serialize into one partition. */
  def packSequences(docs: DataFrame, budget: Int,
                    nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = pmod(md5Bucket(col("doc_id").cast("string")), lit(nShards))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs.select(col("doc_id"), shard.as("shard"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("tok_start",
        coalesce(sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("first_seq",
        graft.ops.Tiling.idiv(col("tok_start"), lit(budget)))
      .withColumn("last_seq", graft.ops.Tiling.idiv(
        col("tok_start") + col("n_tokens") - 1, lit(budget)))
  }

  /** TRAIN/TEST DECONTAMINATION — flag corpus documents that share at
    * least `minHits` DISTINCT token n-grams with any document of a
    * held-out benchmark set (the n-gram-overlap rule used to scrub
    * eval sets out of pre-training corpora). Emits one row per
    * (contaminated doc, benchmark doc) pair with the distinct shared
    * n-gram count; self-pairs are excluded so a benchmark that is a
    * subset of the corpus doesn't flag itself.
    *
    * Scale posture: benchmark sets are tiny relative to a 10¹²-doc
    * corpus, so the benchmark's distinct n-gram table is BROADCAST —
    * the corpus side streams past the hash map with NO pre-join
    * shuffle (its grams are deliberately NOT deduped first: a
    * corpus-wide (doc, gram) distinct would itself be a full-corpus
    * shuffle; instead the distinct folds into the post-join
    * countDistinct, which touches only the matched rows — a
    * minuscule fraction — and combines map-side). */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int,
                    minHits: Int): DataFrame = {
    def grams(df: DataFrame, idAs: String): DataFrame = {
      val tk = col("__tk")
      withTokArr(df).select(col("doc_id").as(idAs),
        explode(when(size(tk) >= n,
          transform(sequence(lit(1), size(tk) - (n - 1)),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(tk, i + j)): _*)))
          .otherwise(array())).as("gram"))
    }
    grams(docs, "doc_id")
      .join(broadcast(grams(bench, "bench_id").distinct()), Seq("gram"))
      .where(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id")
      .agg(countDistinct(col("gram")).as("shared"))
      .where(col("shared") >= minHits)
  }

  /** ROUGE-L sequence overlap (Lin 2004): longest-common-subsequence
    * length between a document's token window and a broadcast
    * reference sequence — the integer NUMERATOR of ROUGE-L (P/R/F
    * are one divide away from (lcs, n, |ref|)). Sequence-aware
    * decontamination twin: bag-of-n-gram overlap (decontaminate)
    * underweights near-verbatim passages with small edits; LCS
    * scores ORDERED overlap directly. Corpus side is embarrassingly
    * parallel — per-doc O(n·m) rolling DP, one scan, no shuffle;
    * the eval side rides in as a literal array (broadcast-by-value).
    * Returns (n_toks, lcs). */
  val rougeLcsAgg = udf((toks: Seq[String], ref: Seq[String]) => {
    val n = toks.length; val m = ref.length
    val dp = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      var diag = 0 // dp(j-1) from the previous row
      var j = 1
      while (j <= m) {
        val up = dp(j)
        dp(j) =
          if (toks(i - 1) == ref(j - 1)) diag + 1
          else math.max(up, dp(j - 1))
        diag = up
        j += 1
      }
      i += 1
    }
    (n.toLong, dp(m).toLong)
  })

  /** Deterministic EPOCH SHUFFLE — the global training-order
    * permutation for epoch `epoch`: every doc gets a pseudorandom but
    * reproducible (shard, pos) coordinate, re-drawn per epoch. Sort
    * key = md5(doc_id:epoch); shard = key mod `nShards`; pos =
    * rank within shard by (key, doc_id). Sharded exactly like
    * [[packSequences]] — per-shard row_number windows parallelize
    * where a single global ORDER BY would serialize into one
    * partition. A reader streams shard s in pos order and the
    * concatenation over shards is the epoch's document order. */
  def epochShuffle(docs: DataFrame, epoch: Int, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(col("doc_id").cast("string"),
      lit(":"), lit(epoch).cast("string")))
    val shard = pmod(md5Bucket(concat(col("doc_id").cast("string"),
      lit(":"), lit(epoch).cast("string"))), lit(nShards))
    val w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    docs.select(col("doc_id"), shard.as("shard"), key.as("sort_key"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select("doc_id", "shard", "pos")
  }

  /** DATA VALIDATION ("expectations") — the pre-training sanity gate:
    * one row per rule with its violation count over the corpus, all
    * exact integers. Rules: n_chars must equal length(text); lang
    * must be in the allowed set; text must be non-empty; doc_id must
    * be unique (violations = rows beyond the first per id). Pure
    * scan + map-side-combined aggregates — one pass, no skew (the
    * dup-check groups on doc_id, unique by construction ⇒ uniform). */
  def validate(docs: DataFrame, allowedLangs: Seq[String]): DataFrame = {
    val scanRules = docs.select(
      sum(when(col("n_chars") =!= length(col("text")), 1L)
        .otherwise(0L)).as("bad_n_chars"),
      sum(when(!col("lang").isin(allowedLangs: _*), 1L)
        .otherwise(0L)).as("bad_lang"),
      sum(when(length(col("text")) === 0 || col("text").isNull, 1L)
        .otherwise(0L)).as("empty_text"))
    val dupIds = docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .select(coalesce(sum(col("c") - 1), lit(0L)).as("dup_doc_ids"))
    val wide = scanRules.crossJoin(dupIds) // two 1-row relations
    wide.select(explode(array(
        struct(lit("bad_n_chars").as("rule"),
          col("bad_n_chars").as("violations")),
        struct(lit("bad_lang").as("rule"), col("bad_lang").as("violations")),
        struct(lit("empty_text").as("rule"),
          col("empty_text").as("violations")),
        struct(lit("dup_doc_ids").as("rule"),
          col("dup_doc_ids").as("violations")))).as("r"))
      .select(col("r.rule").as("rule"), col("r.violations").as("violations"))
  }

  /** LSH band-key table of a document set: one (doc_id, bj, bk) row
    * per signature band, computed with the same [[minhashFast]] kernel
    * the batch LSH uses. This is the table a continual-ingest pipeline
    * MATERIALIZES ONCE for the corpus (e.g. Lineage-bucketed on
    * (bj, bk)) and appends each accepted delta to — so per-batch dedup
    * never recomputes or reshuffles corpus signatures. */
  def bandTable(docs: DataFrame, nSigs: Int = 4): DataFrame = {
    val sig = minhashFast(docs, nSigs)
    sig.select(col("doc_id"),
        explode(array((0 until nSigs).map(j =>
          struct(lit(j).as("bj"), col(s"h$j").as("bk"))): _*)).as("b"))
      .select(col("doc_id"), col("b.bj").as("bj"), col("b.bk").as("bk"))
  }

  /** INCREMENTAL near-dup — the continual-ingest pattern: verify a
    * small DELTA batch against the EXISTING corpus without ever
    * pairing corpus×corpus. Convenience wrapper that derives the
    * corpus band table inline; a real ingest loop materializes it once
    * with [[bandTable]] and calls [[jaccardPairsIncrementalBands]]
    * per batch so the per-batch plan touches the corpus exactly once
    * (one scan, zero shuffles of it). */
  def jaccardPairsIncremental(corpus: DataFrame, delta: DataFrame,
                              threshold: Double,
                              nSigs: Int = 4): DataFrame =
    jaccardPairsIncrementalBands(bandTable(corpus, nSigs), corpus,
      delta, threshold, nSigs)

  /** The batch path proper: `corpusBands` is the PRECOMPUTED
    * [[bandTable]] of the corpus. The delta's band table is tiny
    * (one ingest batch), so it is BROADCAST: the probe is a
    * broadcast-hash join that STREAMS the corpus bands with no
    * exchange — per-batch cost is one corpus scan (or a bucket-pruned
    * subset when corpusBands is Lineage-bucketed on the band key)
    * plus work proportional to the delta. Candidates are
    * delta×corpus band collisions, then exact-Jaccard verified at
    * `threshold` over only the candidate doc ids. */
  def jaccardPairsIncrementalBands(corpusBands: DataFrame,
                                   corpus: DataFrame, delta: DataFrame,
                                   threshold: Double,
                                   nSigs: Int = 4): DataFrame = {
    val deltaBands = bandTable(delta, nSigs)
      .withColumnRenamed("doc_id", "id_new")
    val cand = corpusBands.withColumnRenamed("doc_id", "id_old")
      .join(broadcast(deltaBands), Seq("bj", "bk"))
      .where(col("id_new") =!= col("id_old"))
      .select("id_new", "id_old").distinct()
    // verify WITHOUT a corpus shuffle: candidate ids are delta-bounded
    // (≤ delta × collision fan-out), so broadcast-semi-join them into
    // the corpus scan to fetch just the needed shingle sets, then the
    // pair joins run over delta-sized inputs only
    val candIds = cand.select(col("id_new").as("doc_id"))
      .union(cand.select(col("id_old").as("doc_id"))).distinct()
    val sets = shingleSets(corpus.unionByName(delta)
      .join(broadcast(candIds), Seq("doc_id"), "left_semi"))
    cand
      .join(broadcast(sets.select(col("doc_id").as("id_new"),
        col("sh").as("sh_a"))), Seq("id_new"))
      .join(broadcast(sets.select(col("doc_id").as("id_old"),
        col("sh").as("sh_b"))), Seq("id_old"))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .where(col("n_inter") / col("n_union") >= threshold)
      .select(col("id_new"), col("id_old"), col("n_inter"), col("n_union"))
  }

  /** 64-bit SimHash over tokens: per token, the first 8 md5 bytes vote
    * ±1 per bit position; sign → bit. Deterministic and all-integer, so
    * the DuckDB oracle re-derives it exactly (`SimhashCte` in
    * [[graft.gates.TextGates]]: hex-char nibble bits × generate_series
    * votes). */
  def simhash(docs: DataFrame): DataFrame = {
    val sim = udf((text: String) => {
      val votes = new Array[Int](64)
      // limit -1: keep trailing empty tokens, matching the SQL mirror's
      // split semantics (same latent divergence class as minhashFast)
      text.split(" ", -1).foreach { t =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        var b = 0
        while (b < 64) {
          if ((d(b / 8) >> (7 - b % 8) & 1) == 1) votes(b) += 1
          else votes(b) -= 1
          b += 1
        }
      }
      var h = 0L; var b = 0
      while (b < 64) { if (votes(b) > 0) h |= (1L << (63 - b)); b += 1 }
      h
    })
    docs.select(col("doc_id"), sim(col("text")).as("simhash"))
  }

  /** TEMPERATURE-BALANCED mixture sampling — the corpus-assembly
    * data-mixing stage: per-domain quota = min(cnt, floor(K·√cnt)),
    * the α=0.5 temperature rule that keeps small domains whole and
    * downsamples dominant ones (√ and the multiply are single
    * correctly-rounded IEEE ops, so quotas are engine-exact), then a
    * deterministic content-independent draw: documents rank within
    * their domain by (md5(doc_id:mix), doc_id) and the lowest `quota`
    * survive — reshuffle-stable, like [[splitAssign]].
    *
    * Scale: one hash aggregate for domain counts (broadcast back) +
    * one window per domain. If a single domain dominates at 10¹² rows,
    * shard its window by a salt on the rank key and take per-shard
    * quotas (the spatial joins' salting pattern). */
  def mixBalance(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .withColumn("quota", least(col("cnt"),
        floor(sqrt(col("cnt").cast("double")) * k).cast("long")))
      .select("lang", "quota")
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"),
        md5Bucket(concat(col("doc_id").cast("string"), lit(":mix"))).as("h"))
      .join(broadcast(cnts), Seq("lang"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"),
        col("rn").cast("long").as("rank"), col("quota"))
  }

  /** EXACT-COUNT mixture resampling — the domain-recipe stage (each
    * domain gets a target row count, as in published LLM data
    * recipes): every document receives an integer copy count such
    * that Σ n_copies per domain == target EXACTLY. full = target/cnt
    * copies for everyone; the remaining target%cnt extras go to the
    * lowest (md5(doc_id:rs), doc_id) ranks — deterministic and
    * reshuffle-stable. target < cnt degenerates to downsampling
    * (full = 0: only the md5-chosen get their single copy);
    * target > cnt upsamples (repeat factors). Materialize copies with
    * explode(sequence(1, n_copies)) when the training layout needs
    * physical rows.
    *
    * Scale: one count aggregate (broadcast back) + one window per
    * domain — same posture as [[mixBalance]]. */
  def mixResample(docs: DataFrame,
                  targets: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val t = targets.toDF("lang", "target")
    val cnts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .join(t, Seq("lang"))
      .select(col("lang"),
        // integer division (`div`), not `/`: the double quotient can
        // round across an integer boundary; DuckDB's `//` is exact
        expr("target div cnt").as("full"),
        (col("target") % col("cnt")).as("rem"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"),
        md5Bucket(concat(col("doc_id").cast("string"), lit(":rs"))).as("h"))
      .join(broadcast(cnts), Seq("lang"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("lang"),
        (col("full") + when(col("rn") <= col("rem"), 1L).otherwise(0L))
          .as("n_copies"))
  }

  // ---- BPE merge training (distributed tokenizer induction) --------
  //
  // The classic byte-pair-encoding trainer (Sennrich et al., ACL 2016;
  // public algorithm), shaped for Spark: the corpus is touched ONCE
  // (the word-frequency shuffle); every merge round then runs on the
  // DISTINCT-WORD table — vocabulary-sized, not corpus-sized — as one
  // pair-explode + hash aggregate + a 1-ROW collect (the argmax pair),
  // followed by a per-row literal `replace`. At 10¹² documents the
  // rounds cost O(vocab), which is why real BPE trainers work off the
  // word-count table.
  //
  // Words are represented as '|'-delimited symbol strings
  // ('hello' → '|h||e||l||l||o|'): merging pair (l, r) is then the
  // plain string replace '|l||r|' → '|lr|', whose left-to-right
  // non-overlapping semantics are IDENTICAL in Java, Spark and DuckDB
  // — greedy BPE merge application with zero recursion, so the oracle
  // replays every round in plain SQL. Adjacent delimiters never share
  // characters, so runs like 'aaa' merge correctly ('|a||a||a|' →
  // '|aa||a|'). Symbols never contain '|' (they are concatenations of
  // input characters).

  /** (word, cnt, wstr) word-frequency table with delimited symbol
    * strings — the trainer's working set. Empty tokens (split on
    * trailing space) are dropped, mirrored in the oracle. The char
    * wrap is built WITHOUT regex (per-index substr + array_join):
    * Java's '.' excludes \r and the U+0085/2028/2029 terminators while
    * DuckDB's RE2 '.' excludes only \n, so a regex wrap would break
    * cross-engine bit-exactness on such text. */
  def bpeWords(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("wstr", concat(lit("|"),
        array_join(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))), "||"),
        lit("|")))

  /** Adjacent-symbol pair counts of a word table (overlaps counted,
    * as the reference algorithm does): (l, r, c). */
  def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"),
        split(trim(col("wstr"), "|"), "\\|\\|").as("syms"))
      .where(size(col("syms")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i + 1).as("l"),
                    element_at(col("syms"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  /** Train `rounds` BPE merges: returns (merges, words) — the merge
    * table (round, left, right, cnt) and the word table with final
    * symbol strings. Argmax tie-break: highest count, then
    * lexicographically smallest (left, right) — deterministic, and the
    * oracle's ORDER BY c DESC, l, r replays it.
    *
    * HYBRID per-round pair-count maintenance (the 32k-merge scale
    * fix): a full per-round recount explodes every symbol of every
    * vocab word each round (~2·rounds full-vocab jobs), but a pure
    * delta update is WORSE when the merged pair is dense (it recounts
    * the affected set twice plus two full_outer joins, and early BPE
    * merges touch most of the vocab). So each round picks by the
    * argmax's own support `c` (already in hand, no extra job):
    *   - DENSE (c ≥ vocab/3): plain full rewrite + recount — one pass,
    *     partition count constant;
    *   - SPARSE: merging (l, r) changes pair counts ONLY inside words
    *     whose symbol string contains `|l||r|`, so recount just that
    *     affected subset before and after the rewrite and apply
    *     (new − old) to the standing counts.
    * Real vocabularies hit the sparse branch for all but the first
    * few hundred merges, so per-round cost tracks the merged pair's
    * support, not the vocab (BASELINE.md carries the measured curve,
    * incl. the full-recount baseline). Counts are integer sums, so
    * both branches produce EXACTLY the recount table every round
    * (PipelineOpsSpec asserts merge-sequence equality against an
    * inline full-recount reference).
    *
    * Lineage is truncated per round with `localCheckpoint` (NOT
    * `cache`: an InMemoryRelation still carries — and prints — its
    * full child plan, and the word table's self-referencing union
    * doubles that plan every round; a checkpoint is a true RDD leaf),
    * and the sparse branch's union is re-coalesced to the session
    * parallelism (union CONCATENATES partition lists — unbounded,
    * that's 2^rounds empty tasks by round ~25). */
  def bpeTrain(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val np = spark.sparkContext.defaultParallelism
    // Every checkpoint below is EAGER, so a round's generation has
    // materialized when the round ends and Rounds frees the one it
    // superseded (at a real 32k-merge vocab, leaked block sets are an
    // executor-memory OOM). Lazy checkpoints could NOT be freed: in the
    // sparse branch the new words table is not an ancestor of the
    // argmax collect, so its checkpoint may stay unmaterialized with
    // live lineage into arbitrarily old generations. A round with no
    // pair left stops the loop.
    var totalWords = 0L
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    val ((words, _), _, _) = graft.ops.Rounds.untilStable(
        spark.sparkContext, rounds) {
      val words = bpeWords(docs).localCheckpoint()
      totalWords = words.count()
      (words, bpePairCounts(words).localCheckpoint())
    } { case (words, pc) =>
      val top = pc.orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) ((words, pc), true)
      else {
        val (l, rr, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((merges.size + 1L, l, rr, c))
        val needle = s"|$l||$rr|"
        if (c >= totalWords / 3) {
          // dense merge: one full rewrite + recount beats two
          // affected-set recounts that would cover most of the vocab
          val w2 = words.withColumn("wstr",
            replace(col("wstr"), lit(needle), lit(s"|$l$rr|")))
            .localCheckpoint()
          ((w2, bpePairCounts(w2).localCheckpoint()), false)
        } else {
          val affected = words.where(col("wstr").contains(needle))
            .localCheckpoint()
          val rewritten = affected.withColumn("wstr",
            replace(col("wstr"), lit(needle), lit(s"|$l$rr|")))
          // pair-count delta over just the affected words (new − old)
          val delta = bpePairCounts(rewritten).withColumnRenamed("c", "cn")
            .join(bpePairCounts(affected).withColumnRenamed("c", "co"),
              Seq("l", "r"), "full_outer")
            .select(col("l"), col("r"),
              (coalesce(col("cn"), lit(0L)) - coalesce(col("co"), lit(0L)))
                .as("d"))
            .where(col("d") =!= 0)
          val pc2 = pc.join(delta, Seq("l", "r"), "full_outer")
            .select(col("l"), col("r"),
              (coalesce(col("c"), lit(0L)) + coalesce(col("d"), lit(0L)))
                .as("c"))
            .where(col("c") > 0).localCheckpoint()
          val w2 = words.where(!col("wstr").contains(needle))
            .unionByName(rewritten).coalesce(np).localCheckpoint()
          ((w2, pc2), false)
        }
      }
    }
    (merges.toSeq.toDF("round", "left", "right", "cnt"), words)
  }

  /** Apply trained merges: per-document token count after `rounds`
    * BPE merges (explode words, join the trained word table, sum
    * symbol counts) — the encoder half of the tokenizer. */
  def bpeEncodeStats(docs: DataFrame, rounds: Int): DataFrame = {
    val (_, words) = bpeTrain(docs, rounds)
    val wtoks = words.select(col("word"),
      size(split(trim(col("wstr"), "|"), "\\|\\|")).cast("long").as("wt"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(wtoks, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("wt")).as("n_tokens"))
  }

  /** Edit-distance self-join (PassJoin segment prefilter, Li et al.
    * PVLDB 2011): all pairs with Levenshtein distance <= maxDist.
    * Pigeonhole over the index side's k+1 even segments — <= k edits
    * touch <= k segments, so at least one survives verbatim with a
    * positional shift bounded by the net insert/delete count (<= k);
    * the probe side therefore emits, for every candidate partner
    * length lb in [la-k, la+k], each of lb's segment windows slid by
    * delta in [-k, k], and candidates meet on the exact
    * (lb, seg_index, content) equi-key. Exact `levenshtein` verifies
    * — the prefilter is completeness-preserving, never lossy.
    *
    * Scale posture: one hash shuffle on the segment key ((2k+1)²·
    * (k+1) bounded probe fanout per row, 75 at k=2, vs the O(n²)
    * all-pairs the oracle replays); candidate verification is
    * codegen'd `levenshtein` on the pair, no second shuffle past the
    * dedup. Input: (id, t); output (id_a < id_b, dist). */
  def editNearDupPairs(strs: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist
    val segs = udf((t: String) => {
      val kk = k + 1; val l = t.length
      val out = Seq.newBuilder[(Int, String)]
      var start = 0; var j = 0
      while (j < kk) {
        val len = l / kk + (if (j < kk - l % kk) 0 else 1)
        if (len > 0) out += ((j, t.substring(start, start + len)))
        start += len; j += 1
      }
      out.result()
    })
    val probes = udf((t: String) => {
      val kk = k + 1; val l = t.length
      val out = Seq.newBuilder[(Int, Int, String)]
      var lb = math.max(1, l - k)
      while (lb <= l + k) {
        var start = 0; var j = 0
        while (j < kk) {
          val len = lb / kk + (if (j < kk - lb % kk) 0 else 1)
          var d = -k
          while (d <= k) {
            val s = start + d
            if (len > 0 && s >= 0 && s + len <= l)
              out += ((lb, j, t.substring(s, s + len)))
            d += 1
          }
          start += len; j += 1
        }
        lb += 1
      }
      out.result().distinct
    })
    val idx = strs.select(col("id").as("id_b"), col("t").as("tb"))
      .withColumn("e", explode(segs(col("tb"))))
      .select(col("id_b"), col("tb"), length(col("tb")).as("lb"),
        col("e._1").as("j"), col("e._2").as("seg"))
    val prb = strs.select(col("id").as("id_a"), col("t").as("ta"))
      .withColumn("e", explode(probes(col("ta"))))
      .select(col("id_a"), col("ta"), col("e._1").as("lb"),
        col("e._2").as("j"), col("e._3").as("seg"))
    prb.join(idx, Seq("lb", "j", "seg"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ta", "tb").distinct()
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .where(col("dist") <= k)
      .select("id_a", "id_b", "dist")
  }

  /** Bigram document-frequency coverage — the division-free n-gram-LM
    * quality proxy (KenLM-style perplexity filtering replaced by its
    * integer skeleton): a document scores by how many of its bigrams
    * are ATTESTED, i.e. appear in ≥ `minDf` distinct corpus documents.
    * Low coverage flags gibberish/boilerplate-mangled text the way a
    * high LM perplexity would, but stays exact (no log-probs).
    * Returns (doc_id, n_bigrams, n_attested, cov_q = ⌊2²⁰·att/total⌋);
    * documents with fewer than 2 tokens carry no bigrams and are
    * dropped (nothing to score).
    *
    * Scale posture: one gram-keyed aggregate for the DF table, one
    * gram join back, one doc-keyed aggregate — all bounded keys, no
    * windows. At 10¹² docs the DF table would be a CMS/Bloom
    * prefilter; the exact join keeps the gate value-exact. */
  def lmCoverage(docs: DataFrame, minDf: Long = 2L): DataFrame = {
    val tk = col("__tk")
    val grams = when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
      .otherwise(array())
    val bi = withTokArr(docs).select(col("doc_id"), explode(grams).as("gram"))
    val dfT = bi.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("df"))
    bi.join(dfT, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_attested"))
      .withColumn("cov_q",
        graft.ops.Tiling.idiv(col("n_attested") * 1048576L,
          col("n_bigrams")))
  }

  /** Tf-idf document-pair similarity over the STOPWORD-PRUNED vector
    * space (Salton's vector model with the classic df-cap pruning):
    * the vocabulary is restricted to terms with df ≤ N·`dfCapPermille`
    * /1000 (terms in more docs carry no discrimination and would make
    * the posting join quadratic), weights are exact integers w = tf · ((N·10) div df)
    * (the log-free integer idf, same family as [[keywords]]), and the
    * pair score is the SQUARED cosine as one exact scaled integer
    * sim2 = dot²·10⁶ div (‖a‖²·‖b‖²) — the square avoids sqrt while
    * preserving the cosine ranking (cosine ≥ 0 here: weights are
    * non-negative). The one 128-bit step (dot² can pass 2⁶³) runs in
    * BigInt on the Spark side and HUGEINT in the oracle.
    *
    * Scale posture: candidates come from the posting-list self-join on
    * the PRUNED vocabulary — work is Σ_t df(t)² ≤ cap·Σdf, never
    * all-pairs, and the df cap is exactly the knob that bounds the
    * hottest term's join fan-out; the (a,b) dot aggregate partial-
    * aggregates map-side; norms and the df table are vocabulary-sized
    * broadcasts. Top `topK` by (sim2 desc, dot desc, a, b). */
  /* BOUND (ADVICE r5): weights w = tf·((N·10) div df) and norms Σw²
   * accumulate in Long; with idf ≤ 10·N that is safe while
   * Σ tf²·(10N)² < 2^63 — i.e. corpora under ~10⁸ docs at these tf
   * ranges. Past that, widen the norm accumulation to
   * DecimalType(38,0) like the dot² step already does. */
  def tfidfSimPairs(docs: DataFrame, dfCapPermille: Long, topK: Int)
      : DataFrame = {
    val post = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    // the cap is a FRACTION of the corpus (df ≤ N·permille/1000), so
    // the pruning contract is scale-invariant — a fixed absolute cap
    // silently empties the vector space when the corpus grows 10×
    val dfT = post.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .where(col("df") * 1000 <= lit(dfCapPermille) * col("nd"))
      .select("term", "df")
    val w = post.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"),
        (col("tf") * expr("(nd * 10) div df")).as("w"))
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm"))
    val dots = w.select(col("doc_id").as("a"), col("term"),
        col("w").as("wa"))
      .join(w.select(col("doc_id").as("b"), col("term"), col("w").as("wb")),
        Seq("term"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
    val sim2 = udf((dot: Long, na: Long, nb: Long) =>
      ((BigInt(dot) * dot * 1000000L) / (BigInt(na) * nb)).toLong)
    dots
      .join(norms.select(col("doc_id").as("a"), col("nrm").as("na")),
        Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nrm").as("nb")),
        Seq("b"))
      .select(col("a"), col("b"), col("dot"),
        sim2(col("dot"), col("na"), col("nb")).as("sim2_scaled"))
      .orderBy(col("sim2_scaled").desc, col("dot").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Laplace-smoothed class-affinity TEXT CLASSIFIER (the additive,
    * log-free sibling of multinomial naive Bayes — train and apply
    * inside the engine): the corpus splits train/val on the
    * [[splitAssign]] md5 bucket (content-independent, reshuffle-
    * stable); training counts c(t,l) per (class, term) and class
    * token totals N_l over the TRAIN docs; a val doc scores each
    * class by the exact integer sum over its token OCCURRENCES
    *
    *   score(d, l) = Σ_t (c(t,l) + 1)·10⁶ div (N_l + V)
    *
    * (Laplace add-one over the train vocabulary V; unseen terms
    * contribute the smoothing floor). Prediction = argmax by
    * (score desc, lang asc) — a total order both engines replay.
    *
    * Scale posture: the count model is vocabulary×classes-sized and
    * BROADCAST to the scoring join; scoring is one explode + one
    * map-side-combined (doc, class) sum — the corpus is touched once
    * for training and once for scoring. Returns one row per val doc:
    * (doc_id, lang, pred_lang, score). */
  def classAffinity(docs: DataFrame, valPermille: Int): DataFrame = {
    val withSplit = docs.join(
      splitAssign(docs, valPermille).select("doc_id", "split"), "doc_id")
    val train = withSplit.where(col("split") === "train")
    val tok = train.select(col("lang"), explode(toks).as("term"))
    val ctl = tok.groupBy("lang", "term").agg(count(lit(1)).as("c"))
    val nl = tok.groupBy("lang").agg(count(lit(1)).as("nl"))
    val v = tok.select("term").distinct().agg(count(lit(1)).as("v"))
    val langs = nl.crossJoin(broadcast(v))
      .select(col("lang").as("l"), (col("nl") + col("v")).as("den"))
    val valTok = withSplit.where(col("split") === "val")
      .select(col("doc_id"), col("lang"), explode(toks).as("term"))
    // score every (val token occurrence, class): broadcast the model
    val scored = valTok
      .crossJoin(broadcast(langs))
      .join(broadcast(ctl.select(col("lang").as("l"), col("term"),
        col("c"))), Seq("l", "term"), "left")
      .select(col("doc_id"), col("lang"), col("l"),
        graft.ops.Tiling.idiv((coalesce(col("c"), lit(0L)) + 1L) * 1000000L,
          col("den")).as("w"))
      .groupBy("doc_id", "lang", "l").agg(sum(col("w")).as("score"))
    // argmax by (score desc, lang asc): per-doc window over ≤ #classes
    // rows — the window input is the score table, never the corpus
    val wD = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("l"))
    scored.withColumn("rk", row_number().over(wD))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("l").as("pred_lang"),
        col("score"))
  }

  /** Exact-Gini decision-stump training (CART's split search, Breiman
    * 1984, on one feature) — the quality-classifier primitive of a
    * curation pipeline: given a binary label `labelCol` and an integer
    * feature `featCol`, evaluate every quantized threshold t (feature
    * div `quant`) by the weighted Gini impurity of the (f ≤ t | f > t)
    * split, stated as one exact scaled integer so the argmin is
    * engine-independent:
    *
    *   cost(t) ∝ posL·negL/nL + posR·negR/nR
    *   cost_scaled = (posL·negL·nR + posR·negR·nL)·10⁶ div (nL·nR)
    *
    * Scale posture: one map-side-combined histogram over (threshold,
    * label) — ≤ #distinct-quantized-values rows — then cumulative sums
    * over that tiny table on a single window ordered by t (the window
    * input is the HISTOGRAM, never the corpus). Returns every interior
    * threshold with its split counts and cost; row 1 of the (cost, t)
    * ordering is the trained stump. */
  def giniStump(docs: DataFrame, featCol: Column, labelCol: Column,
                quant: Long): DataFrame = {
    val hist = docs
      .select(graft.ops.Tiling.idiv(featCol.cast("long"), lit(quant)).as("t"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy("t").agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"))
    hist
      .select(col("t"), sum(col("n")).over(wAll).as("nl"),
        sum(col("p")).over(wAll).as("pl"))
      .crossJoin(broadcast(tot))
      .where(col("nl") < col("nt"))
      .select(col("t"), col("nl"), col("pl"),
        (col("nt") - col("nl")).as("nr"), (col("pt") - col("pl")).as("pr"))
      .withColumn("cost_scaled", graft.ops.Tiling.idiv(
        (col("pl") * (col("nl") - col("pl")) * col("nr") +
         col("pr") * (col("nr") - col("pr")) * col("nl")) * 1000000L,
        col("nl") * col("nr")))
      .orderBy("t")
  }
}

/** KMV (k-minimum-values) distinct sketch (Bar-Yossef et al. 2002):
  * keeps the k lexicographically smallest DISTINCT hash strings seen
  * (md5 hex is fixed-width lowercase, so string order == numeric
  * order) and yields the k-th smallest — the sketch value from which
  * the distinct-count estimate derives. State is a bounded sorted
  * array, `merge` is union-and-trim, so Spark runs it with map-side
  * partial aggregation: per-partition sketches of size ≤ k shuffle,
  * never the rows — the mergeable-sketch contract HLL already
  * follows (sketch/Hll.scala), here in exact-oracle-checkable form.
  * Returns null until k distinct values have been seen. */
class KmvSketch(k: Int)
  extends org.apache.spark.sql.expressions.Aggregator[String, Array[String], String] {
  private def trim(s: Array[String]): Array[String] =
    if (s.length <= k) s else s.take(k)
  def zero: Array[String] = Array.empty[String]
  def reduce(b: Array[String], a: String): Array[String] =
    if (a == null || (b.length == k && b(k - 1) <= a)) b
    else trim((b :+ a).distinct.sorted)
  def merge(x: Array[String], y: Array[String]): Array[String] =
    trim((x ++ y).distinct.sorted)
  def finish(r: Array[String]): String =
    if (r.length == k) r(k - 1) else null
  def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[String]]
  def outputEncoder = org.apache.spark.sql.Encoders.STRING
}
