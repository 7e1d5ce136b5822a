package graft.gates

import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.gen.OracleCte.{Md5BucketSql, PhashCte, Pipe, SimgCte, TokCte,
  bandParams => B, images => I, pixelGen => PxCte}

/** The text gates: each [[Gate]] pairs its DataFrame with the DuckDB SQL
  * that re-derives the same rows. */
object TextGates {

  /** Reference "eval passage" for the ROUGE-L gate — 8 tokens drawn
    * from the synth documents' vocabulary so the LCS is non-trivial. */
  private val RougeRef =
    Seq("table", "value", "fast", "scan", "row", "agg", "key", "part")

  /** BPE trainer CTE chain, `rounds` unrolled: w0 = word-frequency
    * table with '|'-delimited symbol strings; per round r, p$r = pair
    * counts, m$r = argmax merge (count desc, then lexicographic),
    * w$r = words with the merge applied via plain `replace` (greedy
    * left-to-right non-overlap — the Spark trainer's exact semantics).
    * Generated without margin pipes: no line starts with '|'. */
  private def BpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      // char wrap without regex ('.' differs between Java and RE2 on
      // \r and the U+0085/2028/2029 terminators — see TextOps.bpeWords)
      "w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,\n" +
      "    '|' || array_to_string(list_transform(\n" +
      "      generate_series(1, length(word)), i -> word[i]),\n" +
      "      '||') || '|' AS wstr\n" +
      "  FROM (SELECT unnest(string_split(text, ' ')) AS word\n" +
      "        FROM documents) t\n" +
      "  WHERE length(word) > 0 GROUP BY word)")
    for (r <- 1 to rounds) {
      sb.append(",\n" +
        s"p$r AS (SELECT s.syms[i.i] AS l, s.syms[i.i+1] AS r,\n" +
        s"    SUM(s.cnt) AS c\n" +
        s"  FROM (SELECT cnt, string_split(trim(wstr, '|'), '||')\n" +
        s"          AS syms FROM w${r - 1}) s\n" +
        s"  CROSS JOIN LATERAL (SELECT\n" +
        s"    unnest(generate_series(1, len(s.syms)-1)) AS i) i\n" +
        s"  GROUP BY 1, 2),\n" +
        s"m$r AS (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),\n" +
        // LEFT JOIN ON TRUE, not CROSS JOIN: a round with no pairs
        // (empty m$r) must keep the word table unchanged, mirroring
        // bpeTrain's `if (top.nonEmpty)` skip — a cross join against
        // an empty merge row would wipe every word
        s"w$r AS (SELECT w.word, w.cnt,\n" +
        s"    CASE WHEN m.l IS NULL THEN w.wstr\n" +
        s"         ELSE replace(w.wstr, '|' || m.l || '||' || m.r || '|',\n" +
        s"           '|' || m.l || m.r || '|') END AS wstr\n" +
        s"  FROM w${r - 1} w LEFT JOIN m$r m ON TRUE)")
    }
    sb.toString
  }

  /** SQL mirror of TextOps.simhash (requires tok): per token the first
    * 8 md5 bytes vote ±1 per bit (bit b = hex char b//4, nibble bit
    * 3−b%4), simhash bit set iff votes > 0 — all-integer, so the
    * 64-bit value is exact cross-engine. Produces sh64(doc_id, simhash). */
  private val SimhashCte =
    """stok AS (SELECT doc_id, unnest(ts) AS t FROM tok),
      |sbit AS (SELECT doc_id, bb.b,
      |  CASE WHEN ((strpos('0123456789abcdef',
      |                     substr(md5(t), bb.b//4 + 1, 1)) - 1)
      |             >> (3 - bb.b % 4)) & 1 = 1
      |       THEN 1 ELSE -1 END AS vote
      |  FROM stok CROSS JOIN
      |    (SELECT unnest(generate_series(0, 63)) AS b) bb),
      |sv AS (SELECT doc_id, b, SUM(vote) AS votes
      |       FROM sbit GROUP BY 1, 2),
      |sh64 AS (SELECT doc_id, CAST(SUM(
      |    CASE WHEN votes > 0 THEN
      |      CASE WHEN b = 0 THEN -9223372036854775807 - 1
      |           ELSE (CAST(1 AS BIGINT) << CAST(63 - b AS INT)) END
      |    ELSE 0 END) AS BIGINT) AS simhash
      |  FROM sv GROUP BY doc_id)""".stripMargin
  private val ShCte =
    """sh AS (SELECT doc_id,
      |  CASE WHEN len(ts) >= 3 THEN
      |    list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
      |  ELSE [text] END AS sh FROM tok)""".stripMargin

  /** MinHash signatures (4 salted md5 mins over the shingles, requires
    * sh) and their LSH bands: bands(doc_id, bj, bk). */
  private val LshBandsCte =
    """sig AS (SELECT doc_id,
      |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0,
      |  list_min(list_transform(sh, s -> md5('1' || s))) AS h1,
      |  list_min(list_transform(sh, s -> md5('2' || s))) AS h2,
      |  list_min(list_transform(sh, s -> md5('3' || s))) AS h3
      |FROM sh),
      |bands AS (
      |  SELECT doc_id, 0 AS bj, h0 AS bk FROM sig
      |  UNION ALL SELECT doc_id, 1, h1 FROM sig
      |  UNION ALL SELECT doc_id, 2, h2 FROM sig
      |  UNION ALL SELECT doc_id, 3, h3 FROM sig)""".stripMargin

  /** The MinHash-LSH near-dup transitive closure (requires tok + sh,
    * WITH RECURSIVE): band candidates → exact-Jaccard edges (≥ 0.01)
    * → `reach` reachability. Shared by q_dedup_clusters and q_curate. */
  private val LshClosureCte =
    s"""$LshBandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.bj = b.bj AND a.bk = b.bk
       |  WHERE a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
       |p AS (SELECT c.id_a, c.id_b,
       |  CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS n_inter,
       |  CAST(len(list_distinct(list_concat(x.shd, y.shd))) AS BIGINT)
       |    AS n_union
       |  FROM cand c JOIN sets x ON x.doc_id = c.id_a
       |  JOIN sets y ON y.doc_id = c.id_b),
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |        WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
       |      UNION ALL
       |      SELECT id_b, id_a FROM p
       |        WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01),
       |reach AS (
       |  SELECT doc_id AS v, doc_id AS l FROM documents
       |  UNION
       |  SELECT e.v, r.l FROM reach r JOIN e ON e.u = r.v)""".stripMargin

  // after the fragments: vals initialize in order and this SQL reads them
  val all: Seq[Gate] = Seq(
    // SimHash banded Hamming-neighbor join over documents — the text
    // analog of q_phash_banded (same Hamming.bandedPairs machinery);
    // value-exact: the md5-bit-vote simhash is re-derived in SQL
    // (SimhashCte), pigeonhole/subset properties additionally in LshSpec
    Gate("q_simhash_banded", (s, dir) =>
      graft.ops.Hamming.bandedPairs(
          graft.text.TextOps.simhash(Synth.documents(s, dir)),
          "doc_id", "simhash", 12)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $TokCte, $SimhashCte,
         |sbnd AS (SELECT doc_id, simhash, j.bj,
         |           (simhash >> (j.bj*16)) & 65535 AS bk
         |         FROM sh64 CROSS JOIN
         |           (SELECT unnest([0,1,2,3]) AS bj) j),
         |scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |            a.simhash AS ha, b.simhash AS hb
         |          FROM sbnd a JOIN sbnd b ON a.bj = b.bj AND a.bk = b.bk
         |          WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS dist
         |FROM scand WHERE bit_count(xor(ha, hb)) <= 12
         |ORDER BY 1, 2""".stripMargin)),

    // first-order Markov next-event transition matrix: per-user
    // window pass, type²-bounded counts, exact scaled probabilities
    Gate("q_markov", (s, dir) =>
      graft.ops.TimeJoins.eventTransitions(
          Synth.events(s, dir))
        .orderBy("a", "b"),
      // Markov replay: per-user LEAD over (ts, event_id), type²-bounded
      // counts, exact floored transition probabilities
      Some("""WITH mkv AS (SELECT user_id, event_type,
        |        LEAD(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS nt
        |      FROM events),
        |mkc AS (SELECT event_type AS a, nt AS b,
        |          CAST(COUNT(*) AS BIGINT) AS c
        |        FROM mkv WHERE nt IS NOT NULL GROUP BY 1, 2),
        |mkt AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca
        |        FROM mkc GROUP BY 1)
        |SELECT c.a, c.b, c.c,
        |  CAST((c.c * 1000000) // t.ca AS BIGINT) AS p_scaled
        |FROM mkc c JOIN mkt t ON t.a = c.a ORDER BY 1, 2""".stripMargin)),

    // CAPTION analytics — the text-pipeline stack applied to the image
    // table's caption column (the cross-modal face of the input_hint
    // schema): exact caption dedup groups over ALL images (metadata
    // only, no payload decode) ...
    Gate("q_caption_dedup", (s, dir) =>
      graft.text.TextOps.dedupExact(
          Synth.images(s, dir)
            .select(col("k").as("doc_id"), col("caption").as("text")))
        .orderBy("h"),
      Some(s"""WITH $I
         |SELECT md5(caption) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  MIN(k) AS min_doc_id
         |FROM img2 GROUP BY 1 ORDER BY h""".stripMargin)),

    // ... and caption vocabulary induction (term df/cf), same reuse
    Gate("q_caption_vocab", (s, dir) =>
      graft.text.TextOps.vocab(
          Synth.images(s, dir)
            .select(col("k").as("doc_id"), col("caption").as("text")), 40),
      Some(s"""WITH $I,
         |ct AS (SELECT k, unnest(string_split(caption, ' ')) AS term
         |       FROM img2)
         |SELECT term, CAST(COUNT(DISTINCT k) AS BIGINT) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS cf
         |FROM ct GROUP BY term ORDER BY cf DESC, term LIMIT 40""".stripMargin)),

    // ---- text pipeline (documents) ----
    Gate("q_doc_tokens", (s, dir) =>
      graft.text.TextOps.tokenStats(Synth.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $TokCte
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(ts, t -> t = 'the')) AS BIGINT) AS n_the,
         |  CAST(len(list_filter(ts, t -> t = 'a')) AS BIGINT) AS n_a
         |FROM tok ORDER BY doc_id""".stripMargin)),

    Gate("q_doc_quality", (s, dir) =>
      graft.text.TextOps.quality(Synth.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $TokCte,
         |t2 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(ts, t -> t = 'the')) AS BIGINT) AS n_the,
         |  CAST(len(list_filter(ts, t -> t = 'a')) AS BIGINT) AS n_a
         |FROM tok)
         |SELECT *,
         |  CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_ratio,
         |  CAST(n_the + n_a AS DOUBLE) / n_tokens AS stop_ratio
         |FROM t2 ORDER BY doc_id""".stripMargin)),

    Gate("q_doc_subwords", (s, dir) =>
      graft.text.TextOps.subwordStats(Synth.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $TokCte
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ts, t -> (length(t)+3)//4))
         |    AS BIGINT) AS n_subtokens
         |FROM tok ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition filters (dup words, top 2-/3-gram mass)
    Gate("q_doc_repetition", (s, dir) =>
      graft.text.TextOps.repetitionStats(Synth.documents(s, dir)).orderBy("doc_id"),
      // repetition stats replayed with list comprehensions: n-grams are
      // joined token slices; the top-gram count is the max over distinct
      // grams of each gram's occurrence count (all exact integers)
      Some(s"""WITH $TokCte,
         |g AS (SELECT doc_id, ts,
         |  list_transform(range(1, len(ts)),
         |    i -> array_to_string(list_slice(ts, i, i+1), ' ')) AS g2,
         |  list_transform(range(1, len(ts)-1),
         |    i -> array_to_string(list_slice(ts, i, i+2), ' ')) AS g3
         |  FROM tok)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(ts) - len(list_distinct(ts)) AS BIGINT) AS n_dup_words,
         |  CAST(len(g2) AS BIGINT) AS n_2grams,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g2),
         |    x -> len(list_filter(g2, y -> y = x)))), 0) AS BIGINT)
         |    AS max_2gram,
         |  CAST(len(g3) AS BIGINT) AS n_3grams,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g3),
         |    x -> len(list_filter(g3, y -> y = x)))), 0) AS BIGINT)
         |    AS max_3gram
         |FROM g ORDER BY doc_id""".stripMargin)),

    Gate("q_doc_langid", (s, dir) =>
      graft.text.TextOps.langId(Synth.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $TokCte,
         |sc AS (SELECT doc_id, lang,
         |  len(list_filter(ts, t -> t = 'the')) +
         |    len(list_filter(ts, t -> t = 'a')) AS en,
         |  len(list_filter(ts, t -> t = 'le')) +
         |    len(list_filter(ts, t -> t = 'la')) AS fr,
         |  len(list_filter(ts, t -> t = 'der')) +
         |    len(list_filter(ts, t -> t = 'und')) AS de
         |FROM tok)
         |SELECT doc_id, lang,
         |  CASE WHEN en >= fr AND en >= de AND en > 0 THEN 'en'
         |       WHEN fr >= de AND fr > 0 THEN 'fr'
         |       WHEN de > 0 THEN 'de' ELSE 'unk' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin)),

    Gate("q_doc_fingerprint", (s, dir) =>
      graft.text.TextOps.fingerprint(Synth.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $TokCte
         |SELECT doc_id,
         |  md5(concat_ws('|', ts[1], ts[2], ts[3], ts[-1],
         |      CAST(n_chars AS VARCHAR))) AS fp
         |FROM tok ORDER BY doc_id""".stripMargin)),

    // PII/URL scrub over PII-augmented docs (every 3rd doc gains an
    // email + URL token — derived identically in SQL): redacted-text
    // md5 + redaction counts, LIKE-only matching so both engines agree
    Gate("q_doc_scrub", (s, dir) =>
      graft.text.TextOps.scrub(Synth.documents(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"),
              lit(" mail bob@example.com or www.example.org now")))
          .otherwise(col("text"))))
        .select(col("doc_id"), md5(col("scrubbed")).as("scrub_h"),
          col("n_redacted"))
        .orderBy("doc_id"),
      // scrub: LIKE-only token redaction over the same PII augmentation
      Some("""WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN text || ' mail bob@example.com or www.example.org now'
        |       ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM aug),
        |red AS (SELECT doc_id,
        |  list_transform(ts, t -> CASE
        |    WHEN t LIKE '%@%.%' THEN '<EMAIL>'
        |    WHEN t LIKE 'http://%' OR t LIKE 'https://%' OR t LIKE 'www.%'
        |      THEN '<URL>'
        |    ELSE t END) AS rts,
        |  CAST(len(list_filter(ts, t -> t LIKE '%@%.%'
        |    OR t LIKE 'http://%' OR t LIKE 'https://%'
        |    OR t LIKE 'www.%')) AS BIGINT) AS n_redacted
        |  FROM tok)
        |SELECT doc_id, md5(array_to_string(rts, ' ')) AS scrub_h, n_redacted
        |FROM red ORDER BY doc_id""".stripMargin)),

    Gate("q_dedup_exact", (s, dir) =>
      graft.text.TextOps.dedupExact(Synth.documents(s, dir)).orderBy("h"),
      Some("""SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin)),

    // IMAGE-level exact dedup: hash-groupBy on the perceptual hash —
    // the image twin of q_dedup_exact (same plan shape: uniform hash
    // key shuffle, one row per group); value-exact because the oracle
    // re-derives every phash bit
    Gate("q_dedup_images", (s, dir) =>
      Synth.imagesWithBytes(s, dir, Synth.smallRaw)
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("cnt"), min(col("image_id")).as("min_image_id"))
        .orderBy("phash"),
      Some(s"""WITH $I, $B, $SimgCte, $PxCte, $PhashCte
         |SELECT phash, CAST(COUNT(*) AS BIGINT) AS cnt,
         |       MIN(image_id) AS min_image_id
         |FROM phi GROUP BY phash ORDER BY phash""".stripMargin)),

    Gate("q_dedup_norm", (s, dir) =>
      graft.text.TextOps.dedupNormalized(Synth.documents(s, dir)).orderBy("h"),
      Some("""SELECT md5(lower(trim(text))) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin)),

    // exact duplicate-substring spans (Lee et al. 2022 suffix-dedup
    // semantics, distributed seed-gram form): L=4 token windows,
    // corpus frequency >= 2, gaps-and-islands maximal-span merge
    Gate("q_dup_spans", (s, dir) =>
      graft.text.TextOps.dupSpans(Synth.documents(s, dir), 4)
        .orderBy("doc_id", "span_id"),
      Some(s"""WITH $TokCte,
         |dsg0 AS (SELECT doc_id,
         |  CASE WHEN len(ts) >= 4 THEN list_transform(
         |    generate_series(1, CAST(len(ts)-3 AS INT)),
         |    i -> {'pos': i-1, 'gh': md5(array_to_string(ts[i:i+3], ' '))})
         |  ELSE [] END AS gl FROM tok),
         |dsg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
         |  FROM (SELECT doc_id, unnest(gl) AS u FROM dsg0)),
         |dsd AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS c
         |   FROM dsg)
         |  WHERE c >= 2),
         |dsi AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 4
         |       THEN 1 ELSE 0 END AS st
         |  FROM dsd WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |dsi2 AS (SELECT doc_id, pos,
         |  SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS UNBOUNDED PRECEDING) AS island FROM dsi)
         |SELECT doc_id, CAST(island AS BIGINT) AS span_id,
         |  CAST(MIN(pos) AS BIGINT) AS start_tok,
         |  CAST(MAX(pos)+3 AS BIGINT) AS end_tok,
         |  CAST(MAX(pos)+3 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_windows
         |FROM dsi2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_id""".stripMargin)),

    // duplicate-span EXCISION (keep the corpus-first occurrence,
    // rebuild every doc's text from the surviving tokens)
    Gate("q_dup_scrub", (s, dir) =>
      graft.text.TextOps.dupSpanScrub(Synth.documents(s, dir), 4)
        .orderBy("doc_id"),
      Some(s"""WITH $TokCte,
         |scg0 AS (SELECT doc_id,
         |  CASE WHEN len(ts) >= 4 THEN list_transform(
         |    generate_series(1, CAST(len(ts)-3 AS INT)),
         |    i -> {'pos': i-1, 'gh': md5(array_to_string(ts[i:i+3], ' '))})
         |  ELSE [] END AS gl FROM tok),
         |scg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
         |  FROM (SELECT doc_id, unnest(gl) AS u FROM scg0)),
         |scd AS (SELECT doc_id, pos, gh FROM
         |  (SELECT doc_id, pos, gh, COUNT(*) OVER (PARTITION BY gh) AS c
         |   FROM scg)
         |  WHERE c >= 2),
         |sci AS (SELECT doc_id, pos, gh,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 4
         |       THEN 1 ELSE 0 END AS st
         |  FROM scd WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sci2 AS (SELECT doc_id, pos, gh,
         |  SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS UNBOUNDED PRECEDING) AS island FROM sci),
         |scfo AS (SELECT gh, MIN({'d': doc_id, 'p': pos}) AS fo
         |  FROM scd GROUP BY gh),
         |scsp AS (SELECT doc_id, arg_min(gh, pos) AS gh,
         |    MIN(pos) AS s, MAX(pos)+3 AS e
         |  FROM sci2 GROUP BY doc_id, island),
         |scrm AS (SELECT sp.doc_id AS doc_id, sp.s AS s, sp.e AS e
         |  FROM scsp sp JOIN scfo f USING (gh)
         |  WHERE NOT (sp.doc_id = f.fo.d AND sp.s = f.fo.p)),
         |scrs AS (SELECT doc_id, list({'s': s, 'e': e}) AS rs,
         |    COUNT(*) AS nsp, SUM(e-s+1) AS ntk
         |  FROM scrm GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(array_to_string(list_filter(t.ts, (x, i) ->
         |    len(list_filter(COALESCE(r.rs, []),
         |      v -> i-1 >= v.s AND i-1 <= v.e)) = 0), ' '), '')
         |    AS kept_text,
         |  CAST(COALESCE(r.nsp, 0) AS BIGINT) AS n_spans_removed,
         |  CAST(COALESCE(r.ntk, 0) AS BIGINT) AS n_tokens_removed
         |FROM documents d JOIN tok t USING (doc_id)
         |LEFT JOIN scrs r USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // winnowing fingerprints (SIGMOD 2003): k=3 grams, window w=4,
    // rightmost-min selection, deduplicated
    Gate("q_winnow", (s, dir) =>
      graft.text.TextOps.winnow(Synth.documents(s, dir), 3, 4)
        .orderBy("doc_id", "pos"),
      Some(s"""WITH $TokCte,
         |wng0 AS (SELECT doc_id,
         |  CASE WHEN len(ts) >= 3 THEN list_transform(
         |    generate_series(1, CAST(len(ts)-2 AS INT)),
         |    i -> {'pos': i-1, 'gh': md5(array_to_string(ts[i:i+2], ' '))})
         |  ELSE [] END AS gl FROM tok),
         |wng AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
         |  FROM (SELECT doc_id, unnest(gl) AS u FROM wng0)),
         |wnw AS (SELECT doc_id, pos, gh,
         |  COUNT(*) OVER fr AS nwin,
         |  MIN({'h': gh, 'np': -pos}) OVER fr AS m
         |  FROM wng WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
         |SELECT DISTINCT doc_id, CAST(-(m.np) AS BIGINT) AS pos,
         |  m.h AS gh
         |FROM wnw WHERE nwin = 4
         |ORDER BY doc_id, pos""".stripMargin)),

    Gate("q_minhash_sig", (s, dir) =>
      graft.text.TextOps.minhash(Synth.documents(s, dir), 4).orderBy("doc_id"),
      Some(s"""WITH $TokCte, $ShCte
         |SELECT doc_id,
         |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0,
         |  list_min(list_transform(sh, s -> md5('1' || s))) AS h1,
         |  list_min(list_transform(sh, s -> md5('2' || s))) AS h2,
         |  list_min(list_transform(sh, s -> md5('3' || s))) AS h3
         |FROM sh ORDER BY doc_id""".stripMargin)),

    Gate("q_minhash_bands", (s, dir) =>
      graft.text.TextOps.minhashBands(Synth.documents(s, dir)).orderBy("band"),
      Some(s"""WITH $TokCte, $ShCte,
         |sig AS (SELECT doc_id,
         |  list_min(list_transform(sh, s -> md5('0' || s))) AS h0 FROM sh)
         |SELECT substr(h0, 1, 2) AS band, CAST(COUNT(*) AS BIGINT) AS cnt,
         |       MIN(doc_id) AS min_doc_id
         |FROM sig GROUP BY 1 ORDER BY band""".stripMargin)),

    Gate("q_jaccard_pairs", (s, dir) =>
      graft.text.TextOps.jaccardPairs(
          Synth.documents(s, dir).where(col("doc_id") < 100), 0.01)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $TokCte,
         |t AS (SELECT doc_id, list_distinct(
         |        CASE WHEN len(ts) >= 3 THEN
         |          list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |        ELSE [text] END) AS sh
         |      FROM tok WHERE doc_id < 100),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT)
         |          AS n_union
         |      FROM t a, t b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, n_inter, n_union FROM p
         |WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
         |ORDER BY id_a, id_b""".stripMargin)),

    // corpus-scale near-dup: MinHash-band candidates + exact verify —
    // UNBOUNDED input (whole documents table), no cross join in the plan
    Gate("q_jaccard_lsh", (s, dir) =>
      graft.text.TextOps.jaccardPairsLsh(Synth.documents(s, dir), 0.01)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $TokCte, $ShCte,
         |$LshBandsCte,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.bj = b.bj AND a.bk = b.bk
         |  WHERE a.doc_id < b.doc_id),
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
         |p AS (SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS n_inter,
         |  CAST(len(list_distinct(list_concat(x.shd, y.shd))) AS BIGINT)
         |    AS n_union
         |  FROM cand c JOIN sets x ON x.doc_id = c.id_a
         |  JOIN sets y ON y.doc_id = c.id_b)
         |SELECT id_a, id_b, n_inter, n_union FROM p
         |WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
         |ORDER BY id_a, id_b""".stripMargin)),

    // vocabulary induction: top-50 terms by collection frequency
    // (deterministic term tie-break — the BPE-trainer input table)
    Gate("q_vocab", (s, dir) =>
      graft.text.TextOps.vocab(Synth.documents(s, dir), 50),
      Some(s"""WITH $TokCte,
         |t AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |a AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         |        CAST(COUNT(*) AS BIGINT) AS cf
         |      FROM t GROUP BY term)
         |SELECT term, df, cf FROM a
         |ORDER BY cf DESC, term LIMIT 50""".stripMargin)),

    // temperature-balanced mixture sampling (data mixing): per-lang
    // quota = min(cnt, floor(8·sqrt(cnt))) — keeps small domains
    // whole, downsamples dominant ones; md5-ranked deterministic draw
    Gate("q_mix_balance", (s, dir) =>
      graft.text.TextOps.mixBalance(Synth.documents(s, dir), 8)
        .orderBy("doc_id"),
      // sqrt-temperature quotas: SQRT and the ×8 are single correctly-
      // rounded IEEE ops — engine-identical; md5 rank is the shared
      // cross-engine hash
      Some(s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM documents GROUP BY 1),
         |q AS (SELECT lang, LEAST(cnt, CAST(FLOOR(SQRT(CAST(cnt AS
         |        DOUBLE)) * 8) AS BIGINT)) AS quota FROM c),
         |h AS (SELECT doc_id, lang,
         |        ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':mix'")} AS h
         |      FROM documents),
         |r AS (SELECT h.doc_id, h.lang, q.quota,
         |        ROW_NUMBER() OVER (PARTITION BY h.lang
         |          ORDER BY h.h, h.doc_id) AS rn
         |      FROM h JOIN q USING (lang))
         |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rank, quota
         |FROM r WHERE rn <= quota ORDER BY doc_id""".stripMargin)),

    // exact-count mixture resampling (domain recipe): per-lang copy
    // counts summing EXACTLY to the target — integer full copies +
    // md5-ranked extras; en downsamples (218→100), zh upsamples
    // (75→150, 2 copies each), de mixes (70→100: 1 + 30 extras)
    Gate("q_mix_resample", (s, dir) =>
      graft.text.TextOps.mixResample(Synth.documents(s, dir),
          Seq("en" -> 100L, "zh" -> 150L, "de" -> 100L,
              "es" -> 73L, "fr" -> 40L))
        .orderBy("doc_id"),
      // copy counts: integer div/mod on exact counts + md5 rank
      Some(s"""WITH t(lang, target) AS (VALUES ('en', 100), ('zh', 150),
         |  ('de', 100), ('es', 73), ('fr', 40)),
         |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM documents GROUP BY 1),
         |q AS (SELECT c.lang, CAST(t.target // c.cnt AS BIGINT) AS f,
         |        CAST(t.target % c.cnt AS BIGINT) AS rem
         |      FROM c JOIN t USING (lang)),
         |h AS (SELECT doc_id, lang,
         |        ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':rs'")} AS h
         |      FROM documents),
         |r AS (SELECT h.doc_id, h.lang, q.f, q.rem,
         |        ROW_NUMBER() OVER (PARTITION BY h.lang
         |          ORDER BY h.h, h.doc_id) AS rn
         |      FROM h JOIN q USING (lang))
         |SELECT doc_id, lang,
         |  CAST(f + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_copies
         |FROM r ORDER BY doc_id""".stripMargin)),

    // BPE merge TRAINING (tokenizer induction): 4 merge rounds on the
    // word-frequency table — corpus touched once, each round is a
    // vocab-sized pair aggregate + 1-row argmax collect + literal
    // replace (delimited-symbol strings make greedy merge == string
    // replace, identically in Spark and DuckDB)
    Gate("q_bpe_merges", (s, dir) =>
      graft.text.TextOps.bpeTrain(Synth.documents(s, dir), 4)._1
        .orderBy("round"),
      // BPE trainer replay: 4 unrolled rounds; the delimited-symbol
      // representation makes greedy merge == plain replace (identical
      // left-to-right non-overlap semantics in Spark and DuckDB)
      Some(s"""WITH ${BpeCtes(4)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, l AS "left", r AS "right",
         |         CAST(c AS BIGINT) AS cnt FROM m1
         |  UNION ALL SELECT 2, l, r, CAST(c AS BIGINT) FROM m2
         |  UNION ALL SELECT 3, l, r, CAST(c AS BIGINT) FROM m3
         |  UNION ALL SELECT 4, l, r, CAST(c AS BIGINT) FROM m4)
         |ORDER BY round""".stripMargin)),

    // BPE ENCODE (the tokenizer's apply half): per-doc word and
    // post-merge token counts under the 4 trained merges
    Gate("q_bpe_encode", (s, dir) =>
      graft.text.TextOps.bpeEncodeStats(Synth.documents(s, dir), 4)
        .orderBy("doc_id"),
      Some(s"""WITH ${BpeCtes(4)},
         |wt AS (SELECT word, CAST(len(string_split(trim(wstr, '$Pipe'),
         |         '$Pipe$Pipe')) AS BIGINT) AS wt FROM w4),
         |dw AS (SELECT d.doc_id, t.word FROM documents d
         |       CROSS JOIN LATERAL (SELECT unnest(string_split(d.text,
         |         ' ')) AS word) t
         |       WHERE length(t.word) > 0)
         |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(wt.wt) AS BIGINT) AS n_tokens
         |FROM dw JOIN wt USING (word) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // deterministic weighted top-40 sample (A-ES shape, rational
    // priority h/w — one IEEE division, engine-identical)
    Gate("q_doc_wsample", (s, dir) =>
      graft.text.TextOps.sampleWeighted(Synth.documents(s, dir),
        size(graft.text.TextOps.toks), 40),
      Some(s"""WITH $TokCte,
         |w AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS w FROM tok),
         |hh AS (SELECT doc_id, w,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':0'")} AS h
         |  FROM w)
         |SELECT doc_id, w, h,
         |  CAST(h AS DOUBLE)/CAST(w AS DOUBLE) AS priority
         |FROM hh ORDER BY priority, doc_id LIMIT 40""".stripMargin)),

    // BM25 top-10 retrieval for the 3 highest-df query terms —
    // exact-rational scores (no float in the ranking key derivation)
    Gate("q_bm25", (s, dir) =>
      graft.text.TextOps.bm25(Synth.documents(s, dir), 3, 10)
        .orderBy("term", "rank"),
      // same cleared-denominator rationals; ranking divides the two
      // exact BIGINTs once (IEEE-identical across engines)
      Some(s"""WITH $TokCte,
         |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM tok),
         |tv AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |st AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tv GROUP BY 1, 2),
         |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM st GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |q AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 3),
         |sc AS (SELECT q.term, st.doc_id, st.tf, q.df, dl.dl,
         |    (2*t.n_docs - 2*q.df + 1) * 22 * st.tf * t.total_len
         |      AS score_num,
         |    (2*q.df + 1) * (10*t.total_len*st.tf + 3*t.total_len +
         |      9*dl.dl*t.n_docs) AS score_den
         |  FROM st JOIN q USING (term) JOIN dl USING (doc_id)
         |  CROSS JOIN tot t),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
         |    ORDER BY CAST(score_num AS DOUBLE)/CAST(score_den AS DOUBLE)
         |      DESC, doc_id) AS rank FROM sc)
         |SELECT term, CAST(rank AS BIGINT) AS rank, doc_id, tf, df, dl,
         |  CAST(score_num AS BIGINT) AS score_num,
         |  CAST(score_den AS BIGINT) AS score_den
         |FROM rk WHERE rank <= 10 ORDER BY term, rank""".stripMargin)),

    // bigram count table (language-model counts), top-50
    Gate("q_ngrams", (s, dir) =>
      graft.text.TextOps.ngramCounts(Synth.documents(s, dir), 2, 50),
      Some(s"""WITH $TokCte,
         |g AS (SELECT unnest(CASE WHEN len(ts) >= 2 THEN
         |        list_transform(generate_series(1, CAST(len(ts)-1 AS INT)),
         |          i -> ts[i] || ' ' || ts[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END) AS gram FROM tok)
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM g GROUP BY gram ORDER BY cnt DESC, gram LIMIT 50""".stripMargin)),

    // collocation mining: top-40 bigrams by exact scaled-integer PMI
    // (c12 ≥ 3) — rare-pair filter before the unigram joins, token
    // total broadcast, ranking never touches a float
    Gate("q_pmi", (s, dir) =>
      graft.text.TextOps.pmiBigrams(Synth.documents(s, dir), 3, 40),
      // PMI replay: unigram + bigram count tables over the same token
      // CTE, rare-pair filter, exact scaled-integer ratio — `//` is
      // DuckDB floor division, matching Spark's `div` on positives
      Some(s"""WITH $TokCte,
         |pu AS (SELECT unnest(ts) AS t FROM tok),
         |pun AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cu
         |        FROM pu GROUP BY 1),
         |ptt AS (SELECT CAST(SUM(cu) AS BIGINT) AS ntok FROM pun),
         |pg AS (SELECT unnest(CASE WHEN len(ts) >= 2 THEN
         |        list_transform(generate_series(1, CAST(len(ts)-1 AS INT)),
         |          i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))
         |      ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END)
         |        AS p FROM tok),
         |pb AS (SELECT p.w1 AS w1, p.w2 AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS c12
         |       FROM pg GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         |SELECT pb.w1 ${Pipe}${Pipe} ' ' ${Pipe}${Pipe} pb.w2 AS gram,
         |  pb.c12, a.cu AS ca, b.cu AS cb,
         |  CAST((10000 * pb.c12 * t.ntok) // (a.cu * b.cu) AS BIGINT)
         |    AS pmi_scaled
         |FROM pb JOIN pun a ON a.t = pb.w1
         |JOIN pun b ON b.t = pb.w2, ptt t
         |ORDER BY pmi_scaled DESC, gram LIMIT 40""".stripMargin)),

    // tf-idf pair similarity over the df ≤ 20%·N-pruned vector space:
    // integer weights tf·((N·10) div df), squared-cosine score as one
    // exact scaled integer (BigInt for the dot² step); candidates from
    // the pruned posting self-join — work Σ df², never all-pairs
    Gate("q_tfidf_sim", (s, dir) =>
      graft.text.TextOps.tfidfSimPairs(Synth.documents(s, dir), 200L, 30),
      // tf-idf pair-similarity replay: pruned postings, integer idf,
      // HUGEINT for the dot²·10⁶ step, identical total-order top-30
      Some(s"""WITH $TokCte,
         |tsp AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |tsf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |        FROM tsp GROUP BY 1, 2),
         |tsd0 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM tsf GROUP BY 1),
         |tsn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
         |tsd AS (SELECT d.term, d.df FROM tsd0 d, tsn n
         |        WHERE d.df * 1000 <= 200 * n.nd),
         |tsw AS (SELECT p.doc_id, p.term, p.tf * ((n.nd * 10) // d.df) AS w
         |        FROM tsf p JOIN tsd d ON d.term = p.term, tsn n),
         |tsm AS (SELECT doc_id, CAST(SUM(w*w) AS BIGINT) AS nrm
         |        FROM tsw GROUP BY 1),
         |tst AS (SELECT a.doc_id AS a, b.doc_id AS b,
         |          CAST(SUM(a.w * b.w) AS BIGINT) AS dot
         |        FROM tsw a JOIN tsw b ON b.term = a.term
         |          AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2)
         |SELECT d.a, d.b, d.dot,
         |  CAST((CAST(d.dot AS HUGEINT) * d.dot * 1000000)
         |    // (CAST(na.nrm AS HUGEINT) * nb.nrm) AS BIGINT)
         |    AS sim2_scaled
         |FROM tst d JOIN tsm na ON na.doc_id = d.a
         |JOIN tsm nb ON nb.doc_id = d.b
         |ORDER BY sim2_scaled DESC, dot DESC, a, b LIMIT 30""".stripMargin)),

    // dictionary encoding (tokenizer apply): top-40 vocab ids, OOV→0,
    // per-doc position-weighted id checksum — the id sequence checked
    // without materializing it; vocab broadcast to the encode join
    Gate("q_encode_ids", (s, dir) =>
      graft.text.TextOps.encodeIds(Synth.documents(s, dir), 40)
        .orderBy("doc_id"),
      // vocab rank replay + positional unnest + left join, OOV id 0
      Some(s"""WITH $TokCte,
         |tv AS (SELECT unnest(ts) AS term, doc_id FROM tok),
         |voc AS (SELECT term,
         |    ROW_NUMBER() OVER (ORDER BY cf DESC, term) AS id
         |  FROM (SELECT term, COUNT(DISTINCT doc_id) AS df,
         |          COUNT(*) AS cf
         |        FROM tv GROUP BY 1 ORDER BY cf DESC, term LIMIT 40)),
         |tp AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, CAST(len(ts) AS INT)),
         |      i -> struct_pack(pos := i, t := ts[i]))) AS u
         |  FROM tok),
         |tp2 AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
         |         u.t AS term FROM tp)
         |SELECT tp2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(SUM(COALESCE(v.id, 0) * tp2.pos) AS BIGINT)
         |    AS ids_checksum
         |FROM tp2 LEFT JOIN voc v ON v.term = tp2.term
         |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // deterministic 10% val split: content-independent md5 bucket —
    // stable under reshuffles, exactly reproducible in SQL
    // keyword extraction: per-doc top-3 terms (tf desc, df asc, term
    // asc — the log-free tf-idf ordering; pure integers/lexicographic)
    Gate("q_doc_keywords", (s, dir) =>
      graft.text.TextOps.keywords(Synth.documents(s, dir), 3)
        .orderBy("doc_id", "rank"),
      // per-doc top-3 keywords: tf desc, df asc, term asc — integer +
      // lexicographic ordering only
      Some(s"""WITH $TokCte,
         |t AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM t GROUP BY 1, 2),
         |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM t GROUP BY 1),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |        ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |          ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
         |      FROM tf JOIN df USING (term))
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    Gate("q_doc_split", (s, dir) =>
      graft.text.TextOps.splitAssign(Synth.documents(s, dir), valPermille = 100)
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id,
        |  CAST((strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        |    AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket * 1000 < 100 * 65536 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM b ORDER BY doc_id""".stripMargin)),

    // deterministic stratified sampling (training-data mixing): keep
    // 500‰ en / 100‰ de / 250‰ es / 1000‰ fr, drop unlisted zh; the
    // md5(doc_id:salt) draw is content-independent and reshuffle-stable
    Gate("q_doc_sample", (s, dir) =>
      graft.text.TextOps.sampleStratified(Synth.documents(s, dir),
          Seq("en" -> 500, "de" -> 100, "es" -> 250, "fr" -> 1000), "r4")
        .select("doc_id", "lang").orderBy("doc_id"),
      // same md5-bucket draw, salted and stratified by lang; zh has no
      // CASE arm so its rate is 0 (dropped), mirroring the Scala foldRight
      Some(s"""WITH b AS (SELECT doc_id, lang,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR) || ':r4'")} AS bucket
         |  FROM documents)
         |SELECT doc_id, lang FROM b
         |WHERE bucket * 1000 <
         |  (CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 100
         |             WHEN 'es' THEN 250 WHEN 'fr' THEN 1000
         |             ELSE 0 END) * 65536
         |ORDER BY doc_id""".stripMargin)),

    // concat-and-chunk sequence packing: 256-token budget, 8 shards;
    // per-doc token interval + first/last packed-sequence ids
    Gate("q_pack_sequences", (s, dir) =>
      graft.text.TextOps.packSequences(Synth.documents(s, dir), 256, 8)
        .orderBy("doc_id"),
      // sharded running-offset replay of the concat-and-chunk packing:
      // cumulative token sum PARTITION BY shard ORDER BY doc_id, then
      // integer division by the 256-token budget
      Some(s"""WITH $TokCte,
         |b AS (SELECT doc_id,
         |  ${Md5BucketSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |  CAST(len(ts) AS BIGINT) AS n_tokens FROM tok),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS tok_start FROM b)
         |SELECT doc_id, shard, n_tokens, tok_start,
         |  CAST(FLOOR(tok_start / 256.0) AS BIGINT) AS first_seq,
         |  CAST(FLOOR((tok_start + n_tokens - 1) / 256.0) AS BIGINT)
         |    AS last_seq
         |FROM c ORDER BY doc_id""".stripMargin)),

    // incremental near-dup: the doc_id%10==7 DELTA batch verified
    // against the rest-of-corpus — band collisions only ever pair
    // delta×corpus (per-batch cost scales with the delta)
    Gate("q_dedup_incremental", (s, dir) => {
      val d = Synth.documents(s, dir)
      graft.text.TextOps.jaccardPairsIncremental(
          d.where(col("doc_id") % 10 =!= 7),
          d.where(col("doc_id") % 10 === 7), 0.01)
        .orderBy("id_new", "id_old")
    },
      // full-corpus sig/band CTEs, but candidates pair ONLY delta
      // (doc_id%10=7) against the rest; exact-Jaccard verify as usual
      Some(s"""WITH $TokCte, $ShCte,
         |$LshBandsCte,
         |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
         |  FROM bands a JOIN bands b ON a.bj = b.bj AND a.bk = b.bk
         |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
         |p AS (SELECT c.id_new, c.id_old,
         |  CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS n_inter,
         |  CAST(len(list_distinct(list_concat(x.shd, y.shd))) AS BIGINT)
         |    AS n_union
         |  FROM cand c JOIN sets x ON x.doc_id = c.id_new
         |  JOIN sets y ON y.doc_id = c.id_old)
         |SELECT id_new, id_old, n_inter, n_union FROM p
         |WHERE CAST(n_inter AS DOUBLE)/n_union >= 0.01
         |ORDER BY id_new, id_old""".stripMargin)),

    // train/test decontamination: corpus docs sharing ≥2 distinct
    // 3-grams with the benchmark subset (doc_id % 17 == 0); benchmark
    // grams broadcast, corpus streams — no corpus-wide shuffle
    Gate("q_decontaminate", (s, dir) => {
      val d = Synth.documents(s, dir)
      graft.text.TextOps.decontaminate(
          d, d.where(col("doc_id") % 17 === 0), n = 3, minHits = 2)
        .orderBy("doc_id", "bench_id")
    },
      // distinct-3-gram self-join against the doc_id%17 benchmark
      // subset; shared = distinct grams in common, threshold 2
      Some(s"""WITH $TokCte,
         |grams AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 3 THEN
         |      list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END) AS gram
         |  FROM tok)),
         |hits AS (SELECT c.doc_id, b.doc_id AS bench_id,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM grams c JOIN grams b ON c.gram = b.gram
         |  WHERE b.doc_id % 17 = 0 AND c.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_id, bench_id, shared FROM hits
         |WHERE shared >= 2 ORDER BY doc_id, bench_id""".stripMargin)),

    // ROUGE-L sequence overlap vs a broadcast reference (Lin 2004):
    // LCS over the first-24-token window — the sequence-aware
    // decontamination twin; per-doc O(n·m) DP, no shuffle (oracle:
    // monotone max-plus scatter recursive CTE, n+m-round fixpoint)
    Gate("q_rouge_lcs", (s, dir) =>
      Synth.documents(s, dir).where(col("doc_id") < 100)
        .withColumn("tk", slice(split(col("text"), " "), 1, 24))
        .withColumn("r", graft.text.TextOps.rougeLcsAgg(col("tk"),
          array(RougeRef.map(lit(_)): _*)))
        .select(col("doc_id"), col("r._1").as("n_toks"),
          col("r._2").as("lcs"))
        .orderBy("doc_id"),
      // LCS DP as a monotone max-plus scatter fixpoint: v(i,j) relaxes
      // from 0 via max(v(i-1,j), v(i,j-1), v(i-1,j-1)+eq); the state
      // DAG is acyclic so the fixpoint is the DP value, reached within
      // n+m <= 32 rounds (same no-overshoot argument as q_strahler)
      Some {
      val refList = RougeRef.map(t => s"'$t'").mkString("[", ",", "]")
      s"""WITH RECURSIVE
         |rld AS (SELECT doc_id, string_split(text, ' ') AS ts
         |        FROM documents WHERE doc_id < 100),
         |rlt AS (SELECT doc_id, LEAST(len(ts), 24) AS n, ts FROM rld),
         |rls AS (SELECT t.doc_id, t.n, ii.i, jj.j,
         |    CASE WHEN ii.i >= 1 AND jj.j >= 1
         |         AND t.ts[CAST(ii.i AS INT)] =
         |             ($refList)[CAST(jj.j AS INT)]
         |         THEN 1 ELSE 0 END AS eq
         |  FROM rlt t
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
         |    CAST(t.n AS INT))) AS i) ii
         |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) jj),
         |rlv AS (
         |  SELECT doc_id, n, i, j, 0 AS v, 0 AS it FROM rls
         |  UNION ALL
         |  SELECT s.doc_id, s.n, s.i, s.j,
         |    MAX(CASE WHEN p.i = s.i - 1 AND p.j = s.j - 1
         |             THEN p.v + s.eq ELSE p.v END) AS v,
         |    MIN(p.it) + 1 AS it
         |  FROM rlv p
         |  JOIN rls s ON s.doc_id = p.doc_id
         |    AND ((p.i = s.i AND p.j = s.j)
         |      OR (p.i = s.i - 1 AND p.j = s.j)
         |      OR (p.i = s.i AND p.j = s.j - 1)
         |      OR (p.i = s.i - 1 AND p.j = s.j - 1))
         |  WHERE p.it < 32
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
         |       CAST(v AS BIGINT) AS lcs
         |FROM rlv WHERE it = 32 AND i = n AND j = 8
         |ORDER BY doc_id""".stripMargin
    }),

    // end-to-end curation: langid → integer quality bounds → LSH
    // near-dup canonical → decontamination → stratified sample, one
    // row per doc with a 0/1 flag per stage + the final keep product
    Gate("q_curate", (s, dir) =>
      graft.text.TextOps.curate(Synth.documents(s, dir),
          Seq("en" -> 600, "de" -> 400, "es" -> 500,
              "fr" -> 700, "zh" -> 300), "cur")
        .orderBy("doc_id"),
      // the composed curation decision: every stage's oracle fragment
      // (langid votes, integer quality bounds, LSH-cluster closure,
      // decontamination hits, md5 sample draw) joined on doc_id
      Some(s"""WITH RECURSIVE $TokCte, $ShCte, $LshClosureCte,
         |clus AS (SELECT v AS doc_id, MIN(l) AS cid
         |  FROM reach GROUP BY v),
         |lsc AS (SELECT doc_id,
         |  len(list_filter(ts, t -> t = 'the')) +
         |    len(list_filter(ts, t -> t = 'a')) AS en,
         |  len(list_filter(ts, t -> t = 'le')) +
         |    len(list_filter(ts, t -> t = 'la')) AS fr,
         |  len(list_filter(ts, t -> t = 'der')) +
         |    len(list_filter(ts, t -> t = 'und')) AS de
         |FROM tok),
         |qf AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
         |  CAST(len(list_filter(ts, t -> t = 'the')) +
         |       len(list_filter(ts, t -> t = 'a')) AS BIGINT) AS n_stop
         |FROM tok),
         |cgrams AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 3 THEN
         |      list_transform(generate_series(1, CAST(len(ts)-2 AS INT)),
         |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END) AS gram
         |  FROM tok)),
         |dirty AS (SELECT c.doc_id FROM cgrams c
         |  JOIN cgrams b ON c.gram = b.gram
         |  WHERE b.doc_id % 17 = 0 AND c.doc_id <> b.doc_id
         |  GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 2),
         |dd AS (SELECT DISTINCT doc_id FROM dirty),
         |smp AS (SELECT doc_id,
         |  CASE WHEN ${Md5BucketSql(
               "CAST(d.doc_id AS VARCHAR) || ':cur'")} * 1000 <
         |    (CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 400
         |               WHEN 'es' THEN 500 WHEN 'fr' THEN 700
         |               WHEN 'zh' THEN 300 ELSE 0 END) * 65536
         |  THEN 1 ELSE 0 END AS sampled
         |  FROM documents d),
         |f AS (SELECT d.doc_id,
         |  CASE WHEN (l.en >= l.fr AND l.en >= l.de AND l.en > 0)
         |         OR (l.fr >= l.de AND l.fr > 0) OR l.de > 0
         |       THEN 1 ELSE 0 END AS pass_lang,
         |  CASE WHEN q.n_uniq * 9 >= q.n_tokens * 4
         |        AND q.n_stop * 10 <= q.n_tokens
         |       THEN 1 ELSE 0 END AS pass_quality,
         |  CASE WHEN c.cid = d.doc_id THEN 1 ELSE 0 END AS is_canonical,
         |  CASE WHEN dd.doc_id IS NULL THEN 1 ELSE 0 END AS is_clean,
         |  s.sampled
         |FROM documents d
         |JOIN lsc l ON l.doc_id = d.doc_id
         |JOIN qf q ON q.doc_id = d.doc_id
         |JOIN clus c ON c.doc_id = d.doc_id
         |LEFT JOIN dd ON dd.doc_id = d.doc_id
         |JOIN smp s ON s.doc_id = d.doc_id)
         |SELECT doc_id, CAST(pass_lang AS BIGINT) AS pass_lang,
         |  CAST(pass_quality AS BIGINT) AS pass_quality,
         |  CAST(is_canonical AS BIGINT) AS is_canonical,
         |  CAST(is_clean AS BIGINT) AS is_clean,
         |  CAST(sampled AS BIGINT) AS sampled,
         |  CAST(pass_lang * pass_quality * is_canonical * is_clean
         |    * sampled AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin)),

    // dedup CLUSTERING: connected components (large-star/small-star)
    // over the LSH near-dup pairs — one row per doc, cluster = the
    // component min; the keep-one-per-cluster step of a 10¹²-row
    // dedup pipeline (oracle: DuckDB recursive-CTE reachability)
    Gate("q_dedup_clusters", (s, dir) =>
      graft.graph.ConnectedComponents.dedupClusters(Synth.documents(s, dir), 0.01)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id"),
      // transitive-closure min-label per doc over the SAME verified
      // near-dup edge set — the SQL ground truth for the distributed
      // large-star/small-star components
      Some(s"""WITH RECURSIVE $TokCte, $ShCte, $LshClosureCte
         |SELECT v AS doc_id, MIN(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin)),

    Gate("q_simhash", (s, dir) =>
      graft.text.TextOps.simhash(Synth.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $TokCte, $SimhashCte
         |SELECT doc_id, simhash FROM sh64 ORDER BY doc_id""".stripMargin)),

    // edit-distance near-dup join (PassJoin segment prefilter +
    // exact levenshtein verify, k=2) over 32-char doc titles plus a
    // planted single-char mutation per doc_id%5==0 — the oracle is
    // the all-pairs levenshtein join, so it checks the prefilter's
    // COMPLETENESS, not just soundness
    Gate("q_edit_neardup", (s, dir) => {
      val docs = Synth.documents(s, dir)
        .where(col("doc_id") < 500)
      val base = docs.selectExpr("CAST(doc_id AS LONG) AS id",
        "substr(text, 1, 32) AS t")
      val mut = docs.where(col("doc_id") % 5 === 0)
        .selectExpr("CAST(doc_id + 1000000 AS LONG) AS id",
          "concat(substr(substr(text,1,32), 1, CAST(doc_id % 32 AS INT)), " +
          "'q', substr(substr(text,1,32), CAST(doc_id % 32 AS INT) + 2, " +
          "31 - CAST(doc_id % 32 AS INT))) AS t")
      graft.text.TextOps.editNearDupPairs(base.unionAll(mut), 2)
        .orderBy("id_a", "id_b")
    },
      // edit-distance near-dup ground truth: ALL-PAIRS levenshtein
      // over the same title+mutation set — verifies the PassJoin
      // prefilter dropped nothing
      Some(s"""WITH ebase AS (SELECT doc_id AS id, substr(text, 1, 32) AS t
         |               FROM documents WHERE doc_id < 500),
         |emut AS (SELECT doc_id + 1000000 AS id,
         |    substr(t0, 1, CAST(doc_id % 32 AS INT)) || 'q' ||
         |    substr(t0, CAST(doc_id % 32 AS INT) + 2,
         |           31 - CAST(doc_id % 32 AS INT)) AS t
         |  FROM (SELECT doc_id, substr(text, 1, 32) AS t0
         |        FROM documents WHERE doc_id < 500)
         |  WHERE doc_id % 5 = 0),
         |eall AS (SELECT * FROM ebase UNION ALL SELECT * FROM emut)
         |SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
         |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
         |FROM eall a JOIN eall b
         |  ON a.id < b.id AND levenshtein(a.t, b.t) <= 2
         |ORDER BY 1, 2""".stripMargin)),

    // bigram-DF coverage (integer LM-perplexity proxy for quality
    // filtering): per-doc attested-bigram fraction, 2^-20 quantized
    Gate("q_lm_coverage", (s, dir) =>
      graft.text.TextOps.lmCoverage(Synth.documents(s, dir)).orderBy("doc_id"),
      // bigram-DF coverage ground truth: same list_transform bigram
      // builder as q_ngrams, DF via COUNT(DISTINCT doc_id), floor-div
      // quantized coverage
      Some(s"""WITH $TokCte,
         |lmg AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 THEN
         |          list_transform(generate_series(1,
         |            CAST(len(ts)-1 AS INT)),
         |            i -> ts[i] ${Pipe}${Pipe} ' ' ${Pipe}${Pipe} ts[i+1])
         |        ELSE CAST([] AS VARCHAR[]) END) AS gram FROM tok),
         |lmd AS (SELECT gram, COUNT(DISTINCT doc_id) AS df
         |        FROM lmg GROUP BY 1),
         |lmj AS (SELECT g.doc_id,
         |          CASE WHEN d.df >= 2 THEN 1 ELSE 0 END AS att
         |        FROM lmg g JOIN lmd d ON d.gram = g.gram)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(att) AS BIGINT) AS n_attested,
         |  CAST((SUM(att) * 1048576) // COUNT(*) AS BIGINT) AS cov_q
         |FROM lmj GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
