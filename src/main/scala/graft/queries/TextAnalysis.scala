package graft.queries

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline analytics over the `documents` table: language ID,
  * quality scoring, token accounting — the per-document narrow
  * transforms a 100 TB training-data pipeline runs before any shuffle.
  * All of them are pure projections (no join, no shuffle except the
  * final aggregate/order), so they scale linearly with input splits.
  *
  * Capability parity: quality/ratio scoring mirrors the reference's
  * signature-token + est_tokens text primitives
  * (crates/mnemo-core/src/query/experience.rs:152-200, retained.rs:67-70).
  */
object TextAnalysis extends QueryGroup {

  // stopword profiles for the n-gram language-ID heuristic
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "es" -> Seq("el", "la", "de", "los", "y", "en"),
    "fr" -> Seq("le", "la", "et", "les", "de", "un"),
    "de" -> Seq("der", "die", "und", "das", "ein", "zu"))

  private def langProfileSql(lang: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, '$lang' AS cand_lang,
       |       CASE WHEN len(toks) > 0
       |            THEN CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS DOUBLE) / len(toks)
       |            ELSE 0.0 END AS hit_ratio
       |FROM toks""".stripMargin
  }

  private val q1 = QueryDef(
    "t1_lang_id",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      // long-form score per candidate language, argmax by window
      val scored = langProfiles.map { case (lang, words) =>
        toks.select(
          col("doc_id"), lit(lang).as("cand_lang"),
          when(size(col("toks")) > 0,
            size(filter(col("toks"), t => t.isin(words.map(lit): _*))).cast("double")
              / size(col("toks")).cast("double"))
            .otherwise(0.0).as("hit_ratio"))
      }.reduce(_ unionAll _)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("hit_ratio").desc, col("cand_lang"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang").as("pred_lang"),
          round(col("hit_ratio"), 6).as("score"))
        .orderBy("doc_id")
    },
    Some {
      val lanes = langProfiles
        .map { case (l, ws) => langProfileSql(l, ws) }
        .mkString("\nUNION ALL\n")
      s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        FROM documents),
      scored AS ($lanes)
      SELECT doc_id, cand_lang AS pred_lang, ROUND(hit_ratio, 6) AS score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY hit_ratio DESC, cand_lang) AS rn
            FROM scored)
      WHERE rn = 1
      ORDER BY doc_id"""
    })

  private val q2 = QueryDef(
    "t2_quality_score",
    (s, dir) => {
      val en = langProfiles.head._2
      val d = Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokens(col("text")))
      val nTok = size(col("toks"))
      val avgWordLen = when(nTok > 0,
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
        .otherwise(0.0)
      val stopRatio = TextOps.stopwordRatio(col("toks"), en)
      val lenScore = least(lit(1.0), nTok.cast("double") / 64.0)
      val stopScore = least(lit(1.0), stopRatio * 4.0)
      val wordLenScore = lit(1.0) - least(lit(1.0), abs(avgWordLen - 4.7) / 4.7)
      d.select(col("doc_id"),
          nTok.as("n_tokens"),
          round(avgWordLen, 6).as("avg_word_len"),
          round(stopRatio, 6).as("stopword_ratio"),
          round(lit(0.4) * lenScore + lit(0.3) * stopScore + lit(0.3) * wordLenScore, 6)
            .as("quality"))
        .orderBy(col("quality").desc, col("doc_id"))
        .limit(200)
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS avg_word_len,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS stopword_ratio
        FROM t)
      SELECT doc_id, n_tokens,
             ROUND(avg_word_len, 6) AS avg_word_len,
             ROUND(stopword_ratio, 6) AS stopword_ratio,
             ROUND(0.4 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 64.0)
                 + 0.3 * LEAST(1.0, stopword_ratio * 4.0)
                 + 0.3 * (1.0 - LEAST(1.0, ABS(avg_word_len - 4.7) / 4.7)), 6) AS quality
      FROM m
      ORDER BY quality DESC, doc_id
      LIMIT 200"""))

  private val q3 = QueryDef(
    "t3_token_stats",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val wsToks = size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
      // BPE-ish pieces: word fragments of <=4 chars — a deterministic
      // proxy for subword token counting
      val bpeToks = size(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]{1,4}"), lit(0)))
      d.select(col("source"), wsToks.as("ws"), bpeToks.as("bpe"),
          TextOps.estTokens(col("text")).as("est"), col("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          sum(col("est")).as("est_tokens"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))
        .orderBy("source")
    },
    Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0))) AS BIGINT) AS ws_tokens,
             CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}'))) AS BIGINT) AS bpe_tokens,
             CAST(SUM(CAST(CEIL(len(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens,
             ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  private val q4 = QueryDef(
    "t4_winnow_fingerprint",
    (s, dir) => {
      // document fingerprinting by winnowing (Schleimer et al., SIGMOD'03):
      // k-gram hashes -> min per sliding window of w -> distinct set.
      // The hash domain is md5 hex (lexicographic min), the same
      // cross-engine-stable discipline as the MinHash sketch. One narrow
      // projection per doc, no shuffle at all — the 100 TB shape.
      val k = 4; val w = 4
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextOps.shingles(col("toks"), k).as("sh"))
        .withColumn("hs", transform(col("sh"), x => md5(x)))
      val windowMins =
        when(size(col("hs")) >= w,
          transform(sequence(lit(0), size(col("hs")) - w), i =>
            array_min(array((0 until w).map(j => element_at(col("hs"), i + j + 1)): _*))))
          .otherwise(array(array_min(col("hs"))))
      d.withColumn("fps", array_sort(array_distinct(windowMins)))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fingerprints"),
          md5(concat_ws(",", col("fps"))).as("digest"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 4
                 THEN list_transform(generate_series(0, len(toks) - 4),
                        i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))
                 ELSE [array_to_string(toks, ' ')] END AS sh
        FROM t),
      hs AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM sh),
      fp AS (
        SELECT doc_id,
               list_sort(list_distinct(
                 CASE WHEN len(hs) >= 4
                   THEN list_transform(generate_series(0, len(hs) - 4),
                          i -> list_min(list_slice(hs, i + 1, i + 4)))
                   ELSE [list_min(hs)] END)) AS fps
        FROM hs)
      SELECT doc_id, len(fps) AS n_fingerprints,
             md5(array_to_string(fps, ',')) AS digest
      FROM fp
      ORDER BY doc_id"""))

  /** Document chunking for training-data prep: fixed-size token windows
    * (size 64, stride 48 → 16-token overlap) exploded to one row per
    * chunk — the standard pre-tokenization split. A narrow
    * projection+explode: no shuffle until the final presentation sort,
    * so at 100 TB chunking streams with the scan. Chunk starts are
    * `sequence(0, len-1, stride)` so short docs yield exactly one
    * chunk and every token lands in ≥1 chunk. */
  private val q5 = QueryDef(
    "t7_chunk_documents",
    (s, dir) => {
      val Size = 64
      val Stride = 48
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
      toks
        .select(col("doc_id"), col("toks"), col("n"),
          posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(Stride)))
            .as(Seq("chunk_idx", "start")))
        .withColumn("chunk_toks", slice(col("toks"), col("start") + 1, lit(Size)))
        .withColumn("n_tokens", size(col("chunk_toks")))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("chunk_idx"),
          concat_ws(" ", col("chunk_toks")).as("chunk_text"), col("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
        .limit(2000)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        FROM documents),
      chunks AS (
        SELECT doc_id,
               CAST(st.i / 48 AS INT) AS chunk_idx,
               array_to_string(list_slice(toks, st.i + 1, st.i + 64), ' ') AS chunk_text,
               len(list_slice(toks, st.i + 1, st.i + 64)) AS n_tokens
        FROM toks,
             unnest(range(0, GREATEST(len(toks) - 1, 0) + 1, 48)) AS st(i))
      SELECT doc_id, chunk_idx, chunk_text, n_tokens
      FROM chunks
      WHERE n_tokens > 0
      ORDER BY doc_id, chunk_idx
      LIMIT 2000"""))

  /** Character-trigram LM outlier scoring — the perplexity-filter shape
    * (CCNet/C4 run a KenLM; here the LM is trained ON the corpus itself,
    * per language, so the whole pass is self-contained and exact): each
    * document scores the average log10-probability of its character
    * trigrams under its language's trigram distribution, and documents
    * below their language's 5th percentile are flagged. Per-trigram
    * log-probs are 6dp-rounded then DECIMAL-summed, and the per-doc mean
    * is the shared [[ExactMean]] of that exact sum, so it is
    * partition-order-independent and bit-equal across engines (a
    * double division + ROUND split the engines on an exact .5 tie).
    *
    * Scale shape: per-doc trigram counts come from the native one-pass
    * [[graft.plans.CharTrigramCountsExpr]] (`map<trigram, count>` per
    * document) exploded to (doc, tri, n) rows — the model aggregate is
    * the FIRST shuffle in the plan. The previous formulation exploded
    * every CHARACTER and reassembled trigrams with two lead windows — a
    * corpus-character sort (5.3-7.8 s warm at sf0.1 vs ~1.5 s for this
    * plan; at 100 TB the removed sort is the difference between a
    * per-document map and a corpus-wide exchange). The model side would
    * be a materialized offline artifact at 100 TB.
    *
    * Cache granularity (the round-16 adjudication of this query's
    * SCALING row — the decomposition numbers live in PLANS.md): the
    * cache holds the PRE-explode `map<trigram, count>` column — ONE
    * row per document — and each consumer explodes it on read.
    * Caching the exploded rows instead materialized ~300 rows per doc
    * into the columnar cache, and that write was the query's whole
    * decade slope (cache build 0.24 → 0.75 s per 10× data, vs
    * 0.22 → 0.38 for the map cache); the re-explode per consumer is
    * the cheap side of the trade (a warm columnar scan + generator,
    * no expression recompute — the trigram EXPRESSION still runs
    * exactly once, in the cache build). */
  private val q6 = QueryDef(
    "t8_charlm_outliers",
    (s, dir) => {
      // per-doc trigram counts in ONE fused expression pass (code-point
      // semantics identical to the split-""+lead-window formulation it
      // replaces); explode emits exactly the distinct (doc, tri, n)
      // rows, so nothing corpus-character-sized is ever shuffled or
      // sorted. The map column is cached (one row per doc — see the
      // cache-granularity note above); the LM model and the per-doc
      // scores both explode it on read, and the score weights each
      // distinct (doc, trigram) by its count instead of re-joining
      // occurrences.
      val docMap = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.charTrigramCounts(lower(col("text"))).as("trim"))
        .cache()
      val docTri = docMap
        .select(col("doc_id"), col("lang"),
          explode(col("trim")).as(Seq("tri", "n")))
      val model = docTri.groupBy("lang", "tri").agg(sum(col("n")).as("cnt"))
      val totals = model.groupBy("lang").agg(sum(col("cnt")).as("tot"))
      val logp = model.join(broadcast(totals), "lang")
        .select(col("lang"), col("tri"),
          round(log10(col("cnt").cast("double") / col("tot")), 6)
            .cast("decimal(12,6)").as("logp"))
      // the LM is broadcast: the trigram vocabulary is intrinsically
      // bounded (≤ |alphabet|³ per language), so the per-doc count side
      // never shuffles for scoring — at any corpus size
      val scored = docTri.join(broadcast(logp), Seq("lang", "tri"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("n")).as("n_trigrams"),
          ExactMean(sum(col("logp") * col("n")), sum(col("n"))).as("avg_logp"))
      val p05 = scored.groupBy("lang")
        .agg(round(percentile(col("avg_logp"), lit(0.05)), 6).as("p05"))
      scored.join(broadcast(p05), "lang")
        .select(col("doc_id"), col("lang"), col("n_trigrams"), col("avg_logp"),
          (col("avg_logp") < col("p05")).cast("int").as("outlier"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tri AS (
        SELECT doc_id, lang, substr(lower(text), i, 3) AS tri
        FROM documents, LATERAL (SELECT unnest(range(1, len(text) - 1)) AS i)
        WHERE len(text) >= 3),
      model AS (SELECT lang, tri, COUNT(*) AS cnt FROM tri GROUP BY lang, tri),
      totals AS (SELECT lang, COUNT(*) AS tot FROM tri GROUP BY lang),
      logp AS (
        SELECT model.lang, tri,
               CAST(ROUND(log10(CAST(cnt AS DOUBLE) / tot), 6) AS DECIMAL(12,6)) AS logp
        FROM model JOIN totals ON model.lang = totals.lang),
      scored AS (
        SELECT doc_id, tri.lang, COUNT(*) AS n_trigrams,
               ${ExactMean.sql("SUM(logp)", "COUNT(*)")} AS avg_logp
        FROM tri JOIN logp ON tri.lang = logp.lang AND tri.tri = logp.tri
        GROUP BY doc_id, tri.lang),
      p05 AS (
        SELECT lang, ROUND(quantile_cont(avg_logp, 0.05), 6) AS p05
        FROM scored GROUP BY lang)
      SELECT doc_id, scored.lang, n_trigrams, avg_logp,
             CAST(avg_logp < p05 AS INT) AS outlier
      FROM scored JOIN p05 ON scored.lang = p05.lang
      ORDER BY doc_id"""))

  val all: Seq[QueryDef] = Seq(q1, q2, q3, q4, q5, q6)
}
