package graft.queries

import graft.Tables
import graft.functions.{MinHash, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline composition operators: quality gating,
  * deterministic stratified sampling, and temperature-weighted corpus
  * mixing. These are the passes that sit between dedup and training at
  * 100 TB — each is one narrow projection plus one small aggregate
  * join, so the corpus side streams and only per-stratum statistics
  * shuffle.
  */
object Pipeline extends QueryGroup {

  private val HexDigits = "0123456789abcdef"

  /** quality score shared with t2_quality_score: length, stopword and
    * word-shape components, each clamped to [0,1]. */
  private def quality(toks: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // round 19: the per-token length-sum and stop-hit lambdas run as
    // one native TokenStatsExpr pass (value-identical — the kernel's
    // sum_len is Spark length() and n_stop counts list membership
    // with multiplicity, NativeKernelsSpec-pinned)
    val ts = ColumnBridge.column(graft.plans.TokenStatsExpr(
      ColumnBridge.expression(toks),
      IndexedSeq("the", "a", "of", "and", "to", "in")))
    val nToks = size(toks).cast("double")
    val avgLen = when(size(toks) > 0,
      ts.getField("sum_len").cast("double") / nToks)
      .otherwise(0.0)
    val stopRatio = when(size(toks) > 0,
      ts.getField("n_stop").cast("double") / nToks)
      .otherwise(0.0)
    round(
      lit(0.4) * least(lit(1.0), nToks / 64.0)
        + lit(0.3) * least(lit(1.0), stopRatio * 4.0)
        + lit(0.3) * (lit(1.0) - least(lit(1.0), abs(avgLen - 4.7) / 4.7)), 6)
  }

  private val qualitySql =
    """ROUND(0.4 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 64.0)
      |    + 0.3 * LEAST(1.0, (CASE WHEN len(toks) > 0
      |        THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(toks)
      |        ELSE 0.0 END) * 4.0)
      |    + 0.3 * (1.0 - LEAST(1.0, ABS((CASE WHEN len(toks) > 0
      |        THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
      |        ELSE 0.0 END) - 4.7) / 4.7)), 6)""".stripMargin

  private val toksSql =
    """toks AS (
      |  SELECT doc_id, lang,
      |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  /** Quality-gate pass: keep only documents at or above their language's
    * median quality — the per-stratum filter step of corpus curation.
    * The median is a 5-row aggregate broadcast back onto the stream. */
  private val q1 = QueryDef(
    "pl1_quality_gate",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("quality", quality(col("toks")))
        .select("doc_id", "lang", "quality")
      val med = d.groupBy("lang")
        .agg(round(percentile(col("quality"), lit(0.5)), 6).as("med"))
      d.join(broadcast(med), "lang")
        .filter(col("quality") >= col("med"))
        .select(col("doc_id"), col("lang"), col("quality"), col("med"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      scored AS (SELECT doc_id, lang, $qualitySql AS quality FROM toks),
      med AS (SELECT lang, ROUND(quantile_cont(quality, 0.5), 6) AS med
              FROM scored GROUP BY lang)
      SELECT doc_id, scored.lang, quality, med
      FROM scored JOIN med ON scored.lang = med.lang
      WHERE quality >= med
      ORDER BY doc_id"""))

  /** Deterministic per-stratum downsampling to ~100 docs per language:
    * keep doc iff its md5 bucket (first two hex chars, uniform on
    * [0,256)) falls under the stratum's acceptance rate. Hash-based
    * bernoulli is THE scalable sampler — no shuffle, no RNG state, and
    * membership is reproducible from the id alone. The digest pins the
    * exact sample across engines. */
  private val q2 = QueryDef(
    "pl2_stratified_sample",
    (s, dir) => {
      val target = 100
      val h = md5(col("doc_id").cast("string"))
      val v = ((instr(lit(HexDigits), substring(h, 1, 1)) - 1) * 16
        + (instr(lit(HexDigits), substring(h, 2, 1)) - 1)).cast("long")
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), v.as("bucket"))
      val sizes = d.groupBy("lang").agg(count(lit(1)).as("n_total"))
      val kept = d.join(broadcast(sizes), "lang")
        .filter(col("bucket") * col("n_total") < lit(256L * target))
      kept.groupBy("lang").agg(
          max(col("n_total")).as("n_total"),
          count(lit(1)).as("n_kept"),
          md5(concat_ws(",", array_sort(collect_list(col("doc_id").cast("string")))))
            .as("sample_digest"))
        .orderBy("lang")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang,
               CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket
        FROM documents),
      sizes AS (SELECT lang, COUNT(*) AS n_total FROM d GROUP BY lang),
      kept AS (
        SELECT d.doc_id, d.lang, s.n_total
        FROM d JOIN sizes s ON d.lang = s.lang
        WHERE d.bucket * s.n_total < 25600)
      SELECT lang, MAX(n_total) AS n_total, COUNT(*) AS n_kept,
             md5(array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',')) AS sample_digest
      FROM kept
      GROUP BY lang
      ORDER BY lang"""))

  /** Temperature-weighted corpus mix: allocate a 100k-token training
    * budget across sources proportionally to sqrt(source tokens) — the
    * standard alpha=0.5 rebalancing that upweights small sources without
    * letting large ones dominate. Pure arithmetic over a tiny per-source
    * aggregate. */
  private val q3 = QueryDef(
    "pl3_corpus_mix",
    (s, dir) => {
      val budget = 100000.0
      val perSrc = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(TextOps.estTokens(col("text"))).as("est_tokens"))
      val total = perSrc.agg(sum(sqrt(col("est_tokens"))).as("z"))
      perSrc.crossJoin(broadcast(total))
        .withColumn("weight", round(sqrt(col("est_tokens")) / col("z"), 6))
        .withColumn("alloc_tokens",
          floor(lit(budget) * sqrt(col("est_tokens")) / col("z")).cast("long"))
        .select("source", "est_tokens", "weight", "alloc_tokens")
        .orderBy("source")
    },
    Some("""
      WITH per_src AS (
        SELECT source,
               CAST(SUM(CAST(CEIL(len(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
        FROM documents GROUP BY source),
      z AS (SELECT SUM(sqrt(est_tokens)) AS z FROM per_src)
      SELECT source, est_tokens,
             ROUND(sqrt(est_tokens) / z, 6) AS weight,
             CAST(FLOOR(100000 * sqrt(est_tokens) / z) AS BIGINT) AS alloc_tokens
      FROM per_src CROSS JOIN z
      ORDER BY source"""))

  /** Deterministic shuffle-shard export: the final pipeline step that
    * writes training shards. Order is md5(doc_id) — a reproducible
    * pseudo-random permutation both engines compute identically — and
    * the shard is the first hex nibble's bucket, so a re-run (or a
    * different engine) produces byte-identical shard assignments. At
    * 100 TB this is one hash projection + one shuffle on shard, and
    * within-shard order is the hash order, so workers stream shards
    * without a global sort. */
  private val q4 = QueryDef(
    "pl4_shuffle_export",
    (s, dir) => {
      val NShards = 8
      val h = md5(col("doc_id").cast("string"))
      val shard = (instr(lit(HexDigits), substring(h, 1, 1)) - 1) % NShards
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("h"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), h.as("h"))
        .withColumn("shard", shard.cast("int"))
        .withColumn("pos", row_number().over(w))
        .select(col("shard"), col("pos"), col("doc_id"), col("n_chars"))
        .orderBy("shard", "pos")
    },
    Some("""
      WITH h AS (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS INT) AS shard
        FROM documents)
      SELECT shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h) AS INT) AS pos,
             doc_id, n_chars
      FROM h
      ORDER BY shard, pos"""))

  /** PII patterns shared by the Spark and DuckDB sides — plain constants
    * so both engines compile the EXACT same regex text. Restricted to
    * RE2-compatible syntax (no lookaround/backreferences) so Java regex
    * (Spark) and RE2 (DuckDB) agree. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII scan + redaction — the pass every training pipeline runs before
    * export. The synthetic corpus contains no natural PII (no digits or
    * @ at all), so the query first splices deterministic fixture PII
    * into a doc_id-keyed subset — both engines compute the identical
    * spliced text, so detection AND redaction are oracle-checked end to
    * end. Scale shape: one projection pass, no shuffle until the final
    * order — regex scans are per-row codegen'd work that parallelizes
    * linearly. */
  private val q5 = QueryDef(
    "pl5_pii_redact",
    (s, dir) => {
      val id = col("doc_id")
      val injected = concat(
        col("text"),
        when(id % 7 === 0, concat(
          lit(" contact u"), id.cast("string"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(id % 11 === 0, concat(
          lit(" from 10."), (id % 256).cast("string"),
          lit(".0."), ((id * 7) % 256).cast("string")))
          .otherwise(lit("")),
        when(id % 13 === 0, concat(
          lit(" call "), (lit(100) + id % 900).cast("string"),
          lit("-"), (lit(100) + (id * 3) % 900).cast("string"),
          lit("-"), (lit(1000) + (id * 7) % 9000).cast("string")))
          .otherwise(lit("")))
      val redacted = regexp_replace(
        regexp_replace(
          regexp_replace(injected, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>")
      Tables.documents(s, dir)
        .select(
          id,
          size(regexp_extract_all(injected, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(injected, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
          size(regexp_extract_all(injected, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
          md5(redacted).as("redacted_fp"))
        .filter(col("n_emails") + col("n_ips") + col("n_phones") > 0)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH spliced AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                    THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                    ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                    THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                    ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                    THEN ' call ' || CAST(100 + doc_id % 900 AS VARCHAR)
                         || '-' || CAST(100 + (doc_id * 3) % 900 AS VARCHAR)
                         || '-' || CAST(1000 + (doc_id * 7) % 9000 AS VARCHAR)
                    ELSE '' END AS injected
        FROM documents),
      scanned AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(injected, '$EmailRe')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(injected, '$Ipv4Re')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(injected, '$PhoneRe')) AS BIGINT) AS n_phones,
               md5(regexp_replace(
                     regexp_replace(
                       regexp_replace(injected, '$EmailRe', '<EMAIL>', 'g'),
                       '$Ipv4Re', '<IP>', 'g'),
                     '$PhoneRe', '<PHONE>', 'g')) AS redacted_fp
        FROM spliced)
      SELECT doc_id, n_emails, n_ips, n_phones, redacted_fp
      FROM scanned
      WHERE n_emails + n_ips + n_phones > 0
      ORDER BY doc_id"""))

  /** Gopher-style repetition quality rules: duplicate-token fraction and
    * most-frequent-bigram mass, with the keep/drop gate both thresholds
    * imply (dup <= 0.6, top-bigram <= 0.2 — both cut this corpus
    * non-trivially). The per-doc token stats are projection-only; the
    * top bigram is an explode + two-level hash aggregate (map-side
    * combinable, shuffle carries one row per (doc, bigram)); the argmax
    * is `min(struct(-count, bigram))` — the same scale-safe argmin
    * device as the IVF assignment, never a window over the exploded
    * frame. */
  private val q6 = QueryDef(
    "pl6_repetition_stats",
    (s, dir) => {
      // Round 19: a PURE PROJECTION — per-doc token stats from
      // size/array_distinct (regular codegen collection ops, no
      // lambda) and the top bigram from the native TopBigramExpr
      // kernel (one hash-count loop per doc; max count, binary-min
      // tie-break — exactly the struct-min convention of the
      // aggregate form it replaces). The previous shape exploded
      // every token, ran a per-doc lead WINDOW (full token shuffle +
      // per-doc sort) and two aggregation exchanges plus a join; that
      // shape existed to dodge the interpreted array-lambda trap the
      // old structure note described, which the native kernel removes
      // at the root. Output rows identical; the only exchange left is
      // the declared ORDER BY.
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val stats = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          ColumnBridge.column(graft.plans.TopBigramExpr(
            ColumnBridge.expression(col("toks")))).as("t"))
        .filter(col("n_tokens") >= 2)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("t.top_c").as("top_c"), col("t.bg").as("top_bigram"))
      stats
        .select(
          col("doc_id"), col("n_tokens"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
            .as("dup_token_frac"),
          col("top_bigram"),
          // normalized by the bigram count (n_tokens - 1), not by
          // 2*top_c/n_tokens: overlapping repeats ("a a a") push the
          // latter past 1.0, and a fraction should stay a fraction
          round(col("top_c").cast("double") / (col("n_tokens") - 1), 6)
            .as("top_bigram_frac"))
        .withColumn("keep",
          (col("dup_token_frac") <= 0.6 && col("top_bigram_frac") <= 0.2)
            .cast("int"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      base AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
        FROM toks WHERE len(toks) >= 2),
      bg AS (SELECT doc_id, unnest(bgs) AS bg FROM base),
      cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
      top AS (
        SELECT doc_id,
               -(min(struct_pack(nc := -c, bg := bg)).nc) AS top_c,
               min(struct_pack(nc := -c, bg := bg)).bg AS top_bigram
        FROM cnt GROUP BY doc_id),
      joined AS (
        SELECT base.doc_id, n_tokens,
               ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
               top_bigram,
               ROUND(CAST(top_c AS DOUBLE) / (n_tokens - 1), 6) AS top_bigram_frac
        FROM base JOIN top ON base.doc_id = top.doc_id)
      SELECT doc_id, n_tokens, dup_token_frac, top_bigram, top_bigram_frac,
             CAST(dup_token_frac <= 0.6 AND top_bigram_frac <= 0.2 AS INT) AS keep
      FROM joined
      ORDER BY doc_id"""))

  /** Benchmark-decontamination scan: flag corpus documents sharing word
    * trigrams with a held-out benchmark set (the fixed doc_id % 97
    * sample, bounded to 32 docs so the benchmark shingle set is O(1) in
    * corpus size and always broadcastable). This is the n-gram-overlap
    * contamination check every eval-hygiene pipeline runs before
    * training; production uses 8-13-grams — n is a knob, trigrams give
    * signal on this small-vocabulary synthetic corpus. Scale shape:
    * corpus shingles stream map-side into a broadcast hash join against
    * the benchmark set; the only shuffle is the per-doc overlap count. */
  private val q7 = QueryDef(
    "pl7_contamination",
    (s, dir) => {
      val BenchBound = 97L * 32
      val isBench = col("doc_id") % 97 === 0 && col("doc_id") < BenchBound
      // round 19: per-doc native ngram-set kernel (NgramSetExpr) +
      // explode — map-side, already distinct within a doc. The
      // previous posexplode + lead-window + distinct() form paid a
      // full token shuffle + per-doc sort + a distinct exchange to
      // build the same (doc_id, shingle) set (the window existed to
      // dodge the interpreted array-lambda cost, which the native
      // kernel eliminates at the root). Identical rows: per-doc
      // distinct strict trigrams — exactly the oracle's
      // list_distinct(list_transform(...)) CTE.
      val sh = {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(ColumnBridge.column(graft.plans.NgramSetExpr(
              ColumnBridge.expression(col("toks")), 3))).as("sh"))
      }
      val bench = sh.filter(isBench).select("sh").distinct()
      val corpus = sh.filter(!isBench)
      val overlap = corpus.join(broadcast(bench), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      corpus.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        .join(overlap, "doc_id")
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
            .as("contamination_frac"))
        .orderBy(col("contamination_frac").desc, col("doc_id"))
    },
    Some(s"""
      WITH $toksSql,
      shing AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        FROM toks WHERE len(toks) >= 3),
      bench AS (
        SELECT DISTINCT sh FROM shing WHERE doc_id % 97 = 0 AND doc_id < 3104),
      corpus AS (
        SELECT * FROM shing WHERE NOT (doc_id % 97 = 0 AND doc_id < 3104)),
      ol AS (
        SELECT doc_id, COUNT(*) AS n_contaminated
        FROM corpus JOIN bench USING (sh) GROUP BY doc_id),
      denom AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id)
      SELECT denom.doc_id, n_shingles, n_contaminated,
             ROUND(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination_frac
      FROM denom JOIN ol ON denom.doc_id = ol.doc_id
      ORDER BY contamination_frac DESC, denom.doc_id"""))

  /** Sequence packing — the last step before the trainer: concatenate
    * documents in a deterministic pseudo-random order and chunk the
    * stream into fixed 2048-token training sequences (docs span chunk
    * boundaries; each doc is attributed to the sequence where it
    * starts). The running offset is a window sum PER SHARD (the pl4
    * md5-shard permutation), so no global single-partition window
    * exists — at 100 TB each shard packs independently and in
    * parallel, and the (shard, seq) id is stable across engines and
    * re-runs. The per-sequence digest pins the exact doc membership. */
  private val q8 = QueryDef(
    "pl8_sequence_pack",
    (s, dir) => {
      val SeqLen = 2048L
      val NShards = 8
      val h = md5(col("doc_id").cast("string"))
      val shard = ((instr(lit(HexDigits), substring(col("h"), 1, 1)) - 1) % NShards).cast("int")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("h"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.estTokens(col("text")).as("est_tokens"), h.as("h"))
        .withColumn("shard", shard)
        .withColumn("cum", sum(col("est_tokens")).over(w))
        .withColumn("seq", floor((col("cum") - col("est_tokens")) / SeqLen).cast("long"))
        .groupBy("shard", "seq")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("est_tokens")).as("seq_tokens"),
          md5(concat_ws(",",
            transform(
              array_sort(collect_list(struct(col("h"),
                col("doc_id").cast("string").as("doc_id")))),
              p => p.getField("doc_id")))).as("doc_digest"))
        .orderBy("shard", "seq")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, CAST(CEIL(len(text) / 4.0) AS BIGINT) AS est_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS INT) AS shard
        FROM documents),
      packed AS (
        SELECT shard, doc_id, est_tokens, h,
               CAST(FLOOR((SUM(est_tokens) OVER (PARTITION BY shard ORDER BY h)
                           - est_tokens) / 2048.0) AS BIGINT) AS seq
        FROM d)
      SELECT shard, seq, COUNT(*) AS n_docs,
             CAST(SUM(est_tokens) AS BIGINT) AS seq_tokens,
             md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h)) AS doc_digest
      FROM packed
      GROUP BY shard, seq
      ORDER BY shard, seq"""))

  /** pl9: vocabulary coverage curve — the tokenizer-design pass: rank
    * the corpus vocabulary by term frequency and report, for the top
    * 100 terms, the cumulative fraction of all token occurrences they
    * cover (the curve that picks a vocab size / byte-fallback
    * threshold before BPE training).
    *
    * Scale shape: the TF aggregate is map-side combined and
    * vocabulary-bounded (NOT corpus-bounded); the ranking window is a
    * single global ordering over that bounded vocab frame — the one
    * place a global window is correct, because its input can never
    * exceed |vocabulary| rows regardless of corpus size. The total is
    * a 1-row broadcast. */
  private val q9 = QueryDef(
    "pl9_vocab_coverage",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("tf"))
      val w = Window.orderBy(col("tf").desc, col("tok"))
      // total as an unpartitioned window over the SAME vocab-bounded
      // frame the ranking sorts — one TF pass feeds rank, cum, and
      // total (a separate agg subtree would re-scan and re-tokenize
      // the whole corpus a second time)
      tf.withColumn("rank", row_number().over(w).cast("bigint"))
        .withColumn("cum_tf",
          sum(col("tf")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("tf")).over(Window.partitionBy()))
        .filter(col("rank") <= 100)
        .select(col("rank"), col("tok"), col("tf"),
          round(col("cum_tf").cast("double") / col("total"), 6).as("cum_coverage"))
        .orderBy("rank")
    },
    Some(s"""
      WITH $toksSql,
      occ AS (SELECT unnest(toks) AS tok FROM toks),
      tf AS (SELECT tok, COUNT(*) AS tf FROM occ GROUP BY tok),
      ranked AS (
        SELECT tok, tf,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rank,
               SUM(tf) OVER (ORDER BY tf DESC, tok ROWS UNBOUNDED PRECEDING) AS cum_tf,
               SUM(tf) OVER () AS total
        FROM tf)
      SELECT rank, tok, tf,
             ROUND(CAST(cum_tf AS DOUBLE) / total, 6) AS cum_coverage
      FROM ranked
      WHERE rank <= 100
      ORDER BY rank"""))

  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much more likely its hashed-unigram
    * features are under a TARGET domain distribution than under the
    * raw-corpus distribution, then keep the top-weighted docs. The
    * target stand-in is `source = 'src0'` (the curated-domain slice);
    * features are md5-hashed token buckets (B = 1024) with add-one
    * smoothing, the paper's hashed-ngram estimator.
    *
    * The per-doc weight is the PER-TOKEN mean log ratio (domain
    * affinity), not the raw sum: under add-one smoothing with a small
    * target the ratios skew negative, so the raw sum just ranks docs
    * by shortness (measured: zero target-source docs in the raw-sum
    * top-50; 10/50 — 4x base rate — under the mean).
    *
    * Cross-engine determinism: the per-BUCKET log ratio is rounded to
    * 6 dp once (B rows), per-doc DECIMAL sums of those rounded values
    * are cast to double only for the final mean (the t8 convention),
    * so engine `ln` last-ulp differences can never reach the hash.
    *
    * Scale shape: both frequency tables are bounded by B (1024 rows —
    * broadcast, never shuffled with the corpus); the corpus side is
    * tokenize → bucket → two map-side-combined aggregates (target
    * counts and per-doc sums); selection is a TakeOrderedAndProject
    * top-k. Nothing grows with corpus size except the streaming
    * passes themselves. */
  private val q10 = QueryDef(
    "pl10_dsir_importance",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 1024
      val feat = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("t"))
        .withColumn("f", conv(substring(md5(col("t")), 1, 4), 16, 10)
          .cast("long") % B)
        .select("doc_id", "source", "f")
        .cache()
      val raw = feat.groupBy("f").agg(count(lit(1)).as("cr"))
      val tgt = feat.filter(col("source") === "src0")
        .groupBy("f").agg(count(lit(1)).as("ct"))
      val totals = feat.agg(
        count(lit(1)).as("nr"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("nt"))
      val lr = raw
        .join(tgt, Seq("f"), "left")
        .crossJoin(broadcast(totals))
        .select(col("f"),
          round(log((coalesce(col("ct"), lit(0L)) + 1.0)
              / (col("nt") + lit(B.toDouble)))
            - log((col("cr") + 1.0) / (col("nr") + lit(B.toDouble))), 6)
            .cast("decimal(14,6)").as("lr"))
      // PER-TOKEN mean, not the raw sum: with add-one smoothing and a
      // target that is a few percent of the corpus, the per-bucket log
      // ratios are almost all slightly negative, so an unnormalized sum
      // is dominated by document LENGTH (measured here: the raw-sum
      // top-50 contained ZERO target-domain docs — it selected short
      // docs; the per-token mean puts the target source at 4x its base
      // rate in the top-50, which is the selection DSIR is for).
      // Honesty note: the synthetic sources are drawn from ONE shared
      // distribution, so the only separable signal is finite-sample
      // self-inclusion — measured enrichment 2.8x / 4x / 1.2x at
      // sf0.001/0.01/0.1 (it fades as the sample converges). On a real
      // corpus with true domain differences the ratio estimator is
      // identical; only the signal grows.
      val docw = feat.join(broadcast(lr), Seq("f"))
        .groupBy("doc_id")
        .agg(round(sum(col("lr")).cast("double") / count(lit(1)), 6)
          .as("log_weight"))
      // top-k-then-rank (the r6 convention): the selection is a
      // TakeOrderedAndProject over the per-doc frame, and the global
      // rank window runs over the 50 surviving rows only
      val top = docw.orderBy(col("log_weight").desc, col("doc_id")).limit(50)
      val w = Window.orderBy(col("log_weight").desc, col("doc_id"))
      top.withColumn("rank", row_number().over(w).cast("bigint"))
        .select("rank", "doc_id", "log_weight")
        .orderBy("rank")
    },
    Some(s"""
      WITH $toksSql,
      tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
      feat AS (
        SELECT tok.doc_id, source,
               ('0x' || substr(md5(t), 1, 4))::BIGINT % 1024 AS f
        FROM tok JOIN documents USING (doc_id)),
      raw AS (SELECT f, COUNT(*) AS cr FROM feat GROUP BY f),
      tgt AS (SELECT f, COUNT(*) AS ct FROM feat WHERE source = 'src0' GROUP BY f),
      totals AS (
        SELECT COUNT(*) AS nr,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS nt
        FROM feat),
      lr AS (
        SELECT raw.f,
               CAST(ROUND(ln((COALESCE(ct, 0) + 1.0) / (nt + 1024.0))
                        - ln((cr + 1.0) / (nr + 1024.0)), 6) AS DECIMAL(14,6)) AS lr
        FROM raw LEFT JOIN tgt USING (f) CROSS JOIN totals),
      docw AS (
        SELECT doc_id, ROUND(CAST(SUM(lr) AS DOUBLE) / COUNT(*), 6) AS log_weight
        FROM feat JOIN lr USING (f)
        GROUP BY doc_id),
      ranked AS (
        SELECT doc_id, log_weight,
               CAST(ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id) AS BIGINT) AS rank
        FROM docw)
      SELECT rank, doc_id, log_weight
      FROM ranked
      WHERE rank <= 50
      ORDER BY rank"""))

  /** Gopher / MassiveText document-filter rules (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", Appendix A1.1) — the published doc-level
    * heuristics most production corpora run before dedup, each with
    * its paper threshold:
    *  - word count in [50, 100000];
    *  - mean word length in [3, 10] characters;
    *  - symbol-to-word ratio (# and … characters) ≤ 0.1;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - at least 2 distinct stop-word hits (the paper's threshold
    *    over this engine's shared stop-word lexicon {the, a, of,
    *    and, to, in} — the same list pl1/t2 score with. The paper's
    *    own list {the, be, to, of, that, have, with, and} presumes
    *    natural English prose; on this synthetic vocabulary only
    *    "the" survives from it, which would fail every document
    *    vacuously — the semantic-sanity probe that caught pl10's
    *    length bias caught this too, so the rule keeps the published
    *    THRESHOLD and swaps in the corpus-appropriate lexicon,
    *    declared here).
    * Emits the measured statistics, each rule's verdict, and the
    * conjunction — per-rule flags rather than a bare keep bit, so a
    * corpus report can attribute WHY a document fell (the shape the
    * paper's ablation tables need). One narrow projection, no shuffle
    * beyond the output sort.
    *
    * Honesty notes for THIS corpus: the symbol rule is trivially
    * satisfied (the synthetic docs carry no # / … characters — the
    * threshold still executes) and the paper's line-level rules
    * (bullet/ellipsis line ratios) are omitted as structurally
    * vacuous on documents without line structure (same reasoning that
    * kept C4's line-level cleaning out). The word-count, word-length,
    * and stop-word rules all have real variance here. */
  private val q11 = QueryDef(
    "pl11_gopher_rules",
    (s, dir) => {
      // rule columns come from the SHARED GopherRules builder — the
      // same expressions the pl16 funnel's quality stage composes
      import graft.functions.GopherRules
      GopherRules.withStats(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextOps.tokens(col("text")).as("toks")))
        .select("doc_id", "n_words", "mean_word_len", "n_symbols",
          "alpha_frac", "n_stop_hits", "r_words", "r_word_len", "r_symbol",
          "r_alpha", "r_stop", "kept")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      stats AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CASE WHEN len(toks) > 0
                 THEN ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks), 6)
                 ELSE 0.0 END AS mean_word_len,
               CAST(len(text) - len(regexp_replace(text, '[#…]', '', 'g')) AS BIGINT) AS n_symbols,
               CASE WHEN len(toks) > 0
                 THEN ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks), 6)
                 ELSE 0.0 END AS alpha_frac,
               CAST(len(list_intersect(list_distinct(toks),
                 ['the','a','of','and','to','in'])) AS BIGINT) AS n_stop_hits
        FROM toks JOIN documents USING (doc_id))
      SELECT doc_id, n_words, mean_word_len, n_symbols, alpha_frac, n_stop_hits,
             CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r_words,
             CAST(n_words > 0 AND mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS r_word_len,
             CAST(n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1 AS INT) AS r_symbol,
             CAST(alpha_frac >= 0.8 AS INT) AS r_alpha,
             CAST(n_stop_hits >= 2 AS INT) AS r_stop,
             CAST(n_words BETWEEN 50 AND 100000
                  AND (n_words > 0 AND mean_word_len BETWEEN 3.0 AND 10.0)
                  AND (n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1)
                  AND alpha_frac >= 0.8
                  AND n_stop_hits >= 2 AS INT) AS kept
      FROM stats
      ORDER BY doc_id"""))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", §4.4): score every document under a per-language LM and
    * split each language into HEAD / MIDDLE / TAIL perplexity
    * tertiles — the curation step CCNet publishes its corpus by
    * (head+middle kept for LM training, tail dropped or
    * down-weighted). Per-rule attribution here is the tertile itself
    * plus the keep bit.
    *
    * Declared adaptation (the pl11/t8 pattern): CCNet scores with a
    * Wikipedia-trained KenLM 5-gram; this corpus-self-contained form
    * trains a per-language UNIGRAM LM on the corpus itself — the same
    * substitution t8 makes at character-trigram granularity, kept
    * here at word granularity so the two lanes bracket the method.
    * Scores are average log10 token probability (monotone in
    * perplexity: ppl = 10^-avg_logp; the bucket boundaries are
    * IDENTICAL either way, and the log form keeps the cross-engine
    * comparison inside the 6dp-round-then-decimal-sum discipline —
    * emitting 10^x would re-introduce libm pow as a hash hazard).
    *
    * Bucketing is CCNet's shipped-cutoff shape, not a rank window:
    * two per-language score cutoffs are computed once, broadcast, and
    * every document buckets by a map-side comparison — exactly how
    * CCNet publishes per-language perplexity cutoffs and applies them
    * at crawl scale. Consequence (documented semantics): documents
    * with EQUAL avg_logp share a bucket, so bucket sizes are n/3 only
    * up to tie groups; the earlier ntile form split ties across
    * buckets by doc_id, which no cutoff-based pipeline reproduces.
    *
    * Cutoff derivation is exact integer rank arithmetic, no
    * interpolation: a histogram groupBy on (lang, avg_logp) (map-side
    * combinable), a cumulative-count window over that HISTOGRAM —
    * whose row count is bounded by the 6dp score value space per
    * language, never by corpus size, so the head language cannot
    * single-partition a doc-level sort — then bucket k's boundary is
    * the smallest score whose tie-group starts at rank <= ceil(k*n/3).
    *
    * Cross-engine exactness: per-token log-probs are 6dp-rounded then
    * DECIMAL-summed (partition-order-independent, the t8 rule). The
    * per-doc mean is the shared [[ExactMean]] (at sf0.1 two docs land
    * EXACTLY on a .5 tie in the 7th digit, e.g. -149.187850/100, where
    * a double division + engine ROUND splits the engines). Cutoffs are
    * picked from that identical value set by integer rank thresholds,
    * and the final bucket comparison is >= between identical doubles.
    *
    * Scale shape: per-doc token counts are the first shuffle (one
    * groupBy on (doc, lang, token)); the LM join broadcasts the
    * model — per-language vocabulary grows sublinearly (Heaps' law),
    * and at 100 TB the model side is a materialized offline artifact
    * (exactly CCNet's shipped KenLM) joined by (lang, token) —
    * never a corpus-sized shuffle. The scored frame is cached because
    * the cutoff pass and the bucketing pass both read it (CCNet
    * materializes the score pass the same way); the cutoff table is
    * 2 values per language and broadcasts. */
  private val q12 = QueryDef(
    "pl12_ccnet_buckets",
    (s, dir) => {
      val docTok = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(count(lit(1)).as("n"))
        .cache()
      val model = docTok.groupBy("lang", "tok").agg(sum(col("n")).as("cnt"))
      val totals = model.groupBy("lang").agg(sum(col("cnt")).as("tot"))
      val logp = model.join(broadcast(totals), "lang")
        .select(col("lang"), col("tok"),
          round(log10(col("cnt").cast("double") / col("tot")), 6)
            .cast("decimal(12,6)").as("logp"))
      val scored = docTok.join(broadcast(logp), Seq("lang", "tok"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("n")).as("n_tokens"),
          ExactMean(sum(col("logp") * col("n")), sum(col("n"))).as("avg_logp"))
        .cache()
      // histogram of distinct scores per language: map-side combinable,
      // row count bounded by the 6dp value space, not the corpus
      val byVal = scored.groupBy("lang", "avg_logp").agg(count(lit(1)).as("cnt"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("avg_logp").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val nPer = byVal.groupBy("lang").agg(sum(col("cnt")).as("n"))
      val cuts = byVal
        .withColumn("first_rank", coalesce(sum(col("cnt")).over(wv), lit(0L)) + 1)
        .join(broadcast(nPer), "lang")
        .withColumn("vbucket",
          when(col("first_rank") <= expr("(n + 2) DIV 3"), 1)
            .when(col("first_rank") <= expr("(2 * n + 2) DIV 3"), 2)
            .otherwise(3))
        .groupBy("lang").agg(
          min(when(col("vbucket") === 1, col("avg_logp"))).as("c1"),
          min(when(col("vbucket") <= 2, col("avg_logp"))).as("c2"))
      scored.join(broadcast(cuts), "lang")
        .withColumn("bucket",
          when(col("avg_logp") >= col("c1"), 1)
            .when(col("avg_logp") >= col("c2"), 2).otherwise(3))
        .withColumn("tier",
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle").otherwise("tail"))
        .withColumn("kept", (col("bucket") <= 2).cast("int"))
        .select("doc_id", "lang", "n_tokens", "avg_logp", "bucket", "tier", "kept")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM toks),
      doctok AS (SELECT doc_id, lang, tok, COUNT(*) AS n FROM tok GROUP BY ALL),
      model AS (SELECT lang, tok, SUM(n) AS cnt FROM doctok GROUP BY ALL),
      totals AS (SELECT lang, SUM(cnt) AS tot FROM model GROUP BY lang),
      logp AS (
        SELECT model.lang, tok,
               CAST(ROUND(log10(CAST(cnt AS DOUBLE) / tot), 6) AS DECIMAL(12,6)) AS logp
        FROM model JOIN totals ON model.lang = totals.lang),
      scored AS (
        SELECT doc_id, doctok.lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
               ${ExactMean.sql("SUM(logp * n)", "SUM(n)")} AS avg_logp
        FROM doctok JOIN logp ON doctok.lang = logp.lang AND doctok.tok = logp.tok
        GROUP BY doc_id, doctok.lang),
      byval AS (SELECT lang, avg_logp, COUNT(*) AS cnt FROM scored GROUP BY ALL),
      ranked AS (
        SELECT lang, avg_logp,
               COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY avg_logp DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS first_rank
        FROM byval),
      nper AS (SELECT lang, COUNT(*) AS n FROM scored GROUP BY lang),
      vb AS (
        SELECT ranked.lang, avg_logp,
               CASE WHEN first_rank <= (n + 2) // 3 THEN 1
                    WHEN first_rank <= (2 * n + 2) // 3 THEN 2 ELSE 3 END AS vbucket
        FROM ranked JOIN nper ON ranked.lang = nper.lang),
      cuts AS (
        SELECT lang, MIN(CASE WHEN vbucket = 1 THEN avg_logp END) AS c1,
               MIN(CASE WHEN vbucket <= 2 THEN avg_logp END) AS c2
        FROM vb GROUP BY lang),
      b AS (
        SELECT s.*, CASE WHEN s.avg_logp >= c.c1 THEN 1
                         WHEN s.avg_logp >= c.c2 THEN 2 ELSE 3 END AS bucket
        FROM scored s JOIN cuts c ON s.lang = c.lang)
      SELECT doc_id, lang, n_tokens, avg_logp, bucket,
             CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
             CAST(bucket <= 2 AS INT) AS kept
      FROM b
      ORDER BY doc_id"""))

  /** Per-language corpus health report — the dashboard aggregate every
    * curation pipeline runs before and after each processing stage
    * (the "datasheet" numbers of Gebru et al. and every public-corpus
    * release card): document and token volumes, central tendency of
    * document length (mean + p50), and the exact-duplicate rate under
    * the d1 normalization (share of docs whose fingerprint appears
    * more than once — computed on the SAME [[DedupEnrich.exactFpFromToks]]
    * fingerprint as the dedup family, so "dup rate" here and "what d1
    * removes" can never disagree).
    *
    * Cross-engine exactness: means are integer-sum-then-one-division
    * (no float accumulation), p50 is the shared percentile/
    * quantile_cont interpolation (the t8 pattern), everything rounds
    * 6dp once at the end. Scale shape: one narrow projection, one
    * groupBy on the fingerprint joined back (the d1 shape — map-side
    * partial aggregation, never a per-fp window sort under mega-dup
    * groups), one 5-row aggregate — nothing corpus-sized crosses the
    * wire twice.
    *
    * PERCENTILE BOUND (do not copy this pattern onto a continuous
    * column): Spark's exact `percentile` buffers the DISTINCT values
    * (with counts) per group in the aggregation buffer. Here that is
    * bounded the same way pl12's histogram is — `n_toks` is a small
    * INTEGER (document token counts, a value space of at most a few
    * tens of thousands regardless of corpus size), so the buffer is
    * value-space-bounded, never corpus-bounded. On a continuous or
    * high-cardinality column (scores, timestamps) the same call
    * buffers per-ROW state and a hot group becomes the pl12
    * scale-killer; use `approx_percentile` (t-digest, O(1) buffer) or
    * the pl12 histogram-cutoff shape there. */
  private val q13 = QueryDef(
    "pl13_corpus_report",
    (s, dir) => {
      import graft.functions.DedupEnrich
      val st = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_toks"),
          DedupEnrich.exactFpFromToks(col("toks")).as("fp"))
        .cache()
      val gsz = st.groupBy("fp").agg(count(lit(1)).as("gsz"))
      st.join(DedupEnrich.joinBackBuild(gsz), "fp")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          round(sum(col("n_toks")).cast("double") / count(lit(1)), 6)
            .as("mean_tokens"),
          round(percentile(col("n_toks"), lit(0.5)), 6).as("p50_tokens"),
          sum((col("gsz") > 1).cast("long")).as("dup_docs"),
          round(sum((col("gsz") > 1).cast("long")).cast("double")
            / count(lit(1)), 6).as("dup_frac"))
        .orderBy("lang")
    },
    Some(s"""
      WITH $toksSql,
      st AS (
        SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_toks,
               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        FROM toks),
      g AS (SELECT *, COUNT(*) OVER (PARTITION BY fp) AS gsz FROM st)
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             ROUND(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
             ROUND(quantile_cont(n_toks, 0.5), 6) AS p50_tokens,
             CAST(SUM(CASE WHEN gsz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
             ROUND(CAST(SUM(CASE WHEN gsz > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
      FROM g
      GROUP BY lang
      ORDER BY lang"""))

  /** Contamination gram width — the GPT-3 appendix-C 13-gram rule.
    * ONE constant across pl14, the funnel's decontamination stage, and
    * the streaming ingest screen
    * ([[graft.streaming.EventStream.streamingDecontam]]), so the three
    * surfaces can never screen on different gram widths. */
  private[graft] val ContamGramK = 13

  /** Eval-set decontamination — the overlap screen every LLM training
    * pipeline runs before training (GPT-3's appendix-C 13-gram filter;
    * PaLM/Llama run the same shape): flag every training document that
    * shares at least one 13-token n-gram with the held-out benchmark
    * set, so test questions cannot leak into the training corpus. The
    * benchmark here is the deterministic doc_id % 7 slice of the
    * corpus — self-contained and oracle-expressible, and realistic in
    * the property that matters: contamination is EXACT n-gram overlap
    * between two document sets (DuckDB-probed non-vacuous at all three
    * scales before registration: 7/8/52 flagged docs).
    *
    * Scale shape — the reason this operator is broadcast-shaped: a
    * benchmark is thousands of examples (a few million 13-grams)
    * regardless of corpus size, so the eval-gram table BROADCASTS and
    * the 100 TB training side never shuffles AT ALL — each task
    * explodes its docs' n-grams locally, hash-probes the broadcast,
    * and only the per-doc hit aggregate (flagged docs only, a
    * vanishing fraction) crosses the wire. A shuffle join keyed on
    * 13-gram strings would move the entire tokenized corpus; PlanSpec
    * pins the broadcast. Docs shorter than 13 tokens have NO 13-grams
    * (strict [[TextOps.ngrams]], not the shingle fallback) and cannot
    * be flagged — the GPT-3 rule.
    *
    * Grams travel as 60-bit md5-prefix HASHES from the moment they are
    * built: distinct/explode/broadcast/join all handle 8-byte longs,
    * never ~100-byte gram strings (the first cut broadcast the eval
    * grams as strings — a ~140 MB broadcast and a string-sort
    * array_distinct per doc, 74 s at sf0.1; hashed it is ~1 MB per
    * million benchmark grams). A 60-bit space makes a false hit
    * ~n_eval·n_train/2^60 — vanishing, and in the SAFE direction for a
    * decontamination screen (an extra doc dropped, never a leak
    * missed). The frame is cached: the eval and train legs both read
    * it (the pl12 docTok discipline).
    *
    * Cross-engine exactness: the hash is the [[DedupEnrich]] md5
    * family (hex-prefix parse, bit-identical in DuckDB); `hit_frac`
    * uses the pl12 integer micro-unit rounding (a double division +
    * engine ROUND would tie-break differently at exact .5 in the 7th
    * digit, e.g. n_grams = 128 with odd n_hit). */

  private val q14 = QueryDef(
    "pl14_decontaminate",
    (s, dir) => {
      val K = ContamGramK
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextOps.hashedNgrams(col("toks"), K).as("grams"),
          (col("doc_id") % 7 === 0).as("is_eval"))
        .cache()
      val evalGrams = base.filter(col("is_eval"))
        .select(explode(col("grams")).as("gram")).distinct()
      val train = base.filter(!col("is_eval"))
        .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
          explode(col("grams")).as("gram"))
      train.join(broadcast(evalGrams), Seq("gram"))
        .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_hit"))
        .withColumn("hit_frac",
          expr("(2 * n_hit * 1000000 + n_grams) DIV (2 * n_grams)")
            .cast("double") / lit(1000000.0))
        .select("doc_id", "n_grams", "n_hit", "hit_frac")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $toksSql,
      grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 CASE WHEN len(toks) >= 13
                   THEN list_transform(generate_series(0, len(toks) - 13),
                        i -> array_to_string(list_slice(toks, i + 1, i + 13), ' '))
                   ELSE []::VARCHAR[] END,
                 g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS grams,
               doc_id % 7 = 0 AS is_eval
        FROM toks),
      ev AS (SELECT DISTINCT unnest(grams) AS gram FROM grams WHERE is_eval),
      train AS (
        SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
               unnest(grams) AS gram
        FROM grams WHERE NOT is_eval),
      hits AS (
        SELECT doc_id, n_grams, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM train JOIN ev USING (gram)
        GROUP BY doc_id, n_grams)
      SELECT doc_id, n_grams, n_hit,
             CAST((2 * n_hit * 1000000 + n_grams) // (2 * n_grams) AS DOUBLE)
               / 1000000.0 AS hit_frac
      FROM hits
      ORDER BY doc_id"""))

  /** The deterministic Bernoulli draw of the composition sampler — ONE
    * definition shared by pl15 and the funnel's stage-5 mix (two
    * drifted uniforms would sample different corpora for the same
    * rate): an md5-derived 32-bit integer of the doc id, scaled into
    * [0, 1) by an exact power of two, so the draw is reproducible,
    * engine-identical (both divisions are exact), and independent of
    * partitioning, ordering, and corpus content. */
  private def mixUniform(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)

  /** DuckDB mirror of [[mixUniform]]. */
  private def mixUniformSql(docId: String): String =
    s"""('0x' || substr(md5(CAST($docId AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0"""

  /** Domain-mixture sampling — the corpus-composition step between
    * curation and training (the Pile / Llama / DoReMi pipelines all
    * end with one): re-weight the corpus toward a declared per-domain
    * target mixture by DETERMINISTIC per-document Bernoulli sampling.
    * The registered instance is the uniform target over the corpus's
    * languages — the balanced-corpus special case, where the largest
    * achievable corpus keeps min_l(n_l) docs per language and the
    * per-language keep rate is n_min/n_l (the head language downsamples
    * ~3x on this corpus; any other weight vector only changes the
    * broadcast rate table, not the shape).
    *
    * Scale shape — stateless, shuffle-free sampling: the ONLY shuffle
    * is the L-row per-language count aggregate (map-side combinable);
    * rates broadcast back and the keep decision is a map-side
    * comparison of a per-doc md5-derived uniform u = first-8-hex/2^32
    * (the [[DedupEnrich.bloomPositions]] determinism family — exact
    * i/2^32 rational, bit-identical in both engines) against the rate.
    * No sort, no window, no doc-level shuffle. The count leg and the
    * sampling leg share ONE cached narrow (doc_id, lang) projection
    * (the pl12/pl14 multi-consumer discipline); at 100 TB the counts
    * are typically a standing catalog statistic anyway, and even
    * uncached both legs are column-pruned two-column scans, never
    * full-row passes. Determinism doubles as REPRODUCIBILITY:
    * re-running the sampler on the same corpus keeps exactly the same
    * documents (the property training-data lineage audits need;
    * rand()-based sampling has no such audit trail).
    *
    * Cross-engine exactness: u is an exact 32-bit rational; the rate
    * n_min/n_l is one IEEE division of two exact longs computed in the
    * same order in both engines; `u < rate` compares identical
    * doubles. No rounding anywhere (u is not emitted). */
  private val q15 = QueryDef(
    "pl15_domain_mix",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang")).cache()
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val nmin = counts.agg(min(col("n")).as("n_min"))
      val rates = counts.crossJoin(broadcast(nmin))
        .select(col("lang"),
          (col("n_min").cast("double") / col("n")).as("rate"))
      docs
        .join(broadcast(rates), Seq("lang"))
        .filter(mixUniform(col("doc_id")) < col("rate"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      nmin AS (SELECT MIN(n) AS n_min FROM counts),
      rates AS (
        SELECT lang, CAST(n_min AS DOUBLE) / n AS rate
        FROM counts CROSS JOIN nmin)
      SELECT doc_id, d.lang
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE ${mixUniformSql("doc_id")} < r.rate
      ORDER BY doc_id"""))

  /** Hot-band threshold of the funnel's fuzzy stage (the d12
    * discipline at the funnel's scope — see [[funnelStages]]'s
    * scaladoc for the probe numbers and the production-threshold
    * note on `Dedup.BatchHotBands`). This is the FIXTURE value the
    * oracle SQL embeds; the funnel resolves the effective threshold
    * through the SHARED [[graft.functions.DedupEnrich.hotThresholdFor]]
    * (`graft.dedup.hotThreshold=fixture|auto|<int>`) exactly like
    * d12/d13 — the funnel is the form most likely to meet a real
    * templated corpus, so it must honor the auto derivation too
    * (PipelineSpec pins that a planted template flood flags through
    * the fuzzy stage under auto). */
  private val FunnelHotBands = 3

  /** Exact-Jaccard verification threshold of the fuzzy stage (the d3
    * family threshold). */
  private val FunnelMinJaccard = 0.3

  /** DuckDB mirror of [[funnelStages]]: the gate→stage-4 segment of
    * the funnel CTE chain, from `train` to `${p}staged4(doc_id, lang,
    * stage)`. `gate` is ONE boolean predicate over `train`'s columns
    * (`kept = 1` for the rule funnel, "not in the tail tertile" for
    * pl23); `${p}gated` binds it as a column, from which both the
    * survivor set (`${p}q`) and the stage-0 arm derive. `p` prefixes
    * every internal CTE name, so the gated chain can coexist with the
    * rule chain in one WITH. `toks`, `train` and `ev` must be in
    * scope, and `WITH RECURSIVE` on the enclosing chain (the fuzzy
    * stage's `freach` reachability CTE); the shingle/minhash/band/
    * jaccard SQL comes from the same generators the Dedup oracles use.
    *
    * GOTCHA (caught by the sf0.1 gate): under `WITH RECURSIVE`,
    * DuckDB 1.0 does NOT deduplicate a plain `UNION` inside a
    * NON-recursive CTE of the chain (`WITH RECURSIVE a AS (SELECT 1
    * UNION SELECT 1)` yields 2 rows) — a doc in both guard legs came
    * out of `fdrop` twice and duplicated its `staged` row through the
    * join. Any set-op that must dedupe in this chain is therefore
    * written `SELECT DISTINCT ... FROM (... UNION ALL ...)`. */
  private def funnelChainSql(p: String, gate: String): String =
    s"""${p}gated AS (SELECT *, $gate AS gate FROM train),
      ${p}q AS (SELECT * FROM ${p}gated WHERE gate),
      ${p}canon AS (SELECT fp, MIN(doc_id) AS canonical_id
                    FROM ${p}q GROUP BY fp),
      ${p}uniq AS (SELECT ${p}q.doc_id,
                     CAST(${p}q.doc_id = canonical_id AS INT) AS canonical
               FROM ${p}q JOIN ${p}canon USING (fp)),
      ${p}exact AS (SELECT doc_id FROM ${p}uniq WHERE canonical = 1),
      ${p}fsh AS (
        SELECT doc_id, ${TextOps.shingleSetSqlExpr("toks",
          graft.functions.DedupEnrich.ShingleK)} AS sh
        FROM toks JOIN ${p}exact USING (doc_id)),
      ${p}ffp AS (SELECT doc_id, sh, ${MinHash.fingerprintsSql("sh")} AS fp
                  FROM ${p}fsh),
      ${p}fsigs AS (SELECT doc_id, sh, ${MinHash.signatureSql("fp",
          graft.functions.DedupEnrich.NHashes)} AS sig FROM ${p}ffp),
      ${p}fbands AS (
        SELECT doc_id, ${MinHash.bandKeysSql("sig",
          graft.functions.DedupEnrich.NHashes,
          graft.functions.DedupEnrich.RowsPerBand)} AS bk
        FROM ${p}fsigs),
      ${p}fcounts AS (SELECT bk, COUNT(DISTINCT doc_id) AS cnt
                      FROM ${p}fbands GROUP BY bk),
      ${p}fhot AS (SELECT bk FROM ${p}fcounts WHERE cnt >= $FunnelHotBands),
      ${p}fsat AS (SELECT DISTINCT doc_id FROM ${p}fbands
                   JOIN ${p}fhot USING (bk)),
      ${p}fcold AS (SELECT doc_id, bk FROM ${p}fbands
                    WHERE bk NOT IN (SELECT bk FROM ${p}fhot)),
      ${p}fcand AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM ${p}fcold a JOIN ${p}fcold b
          ON a.bk = b.bk AND a.doc_id < b.doc_id),
      ${p}fver AS (
        SELECT a, b FROM ${p}fcand
        JOIN ${p}fsh sa ON sa.doc_id = ${p}fcand.a
        JOIN ${p}fsh sb ON sb.doc_id = ${p}fcand.b
        WHERE ${TextOps.jaccardSqlExpr("sa.sh", "sb.sh")} >= $FunnelMinJaccard),
      ${p}fedges AS (SELECT a, b FROM ${p}fver
                     UNION ALL SELECT b, a FROM ${p}fver),
      ${p}freach AS (
        SELECT a AS node, a AS r FROM ${p}fedges
        UNION
        SELECT re.node, e.b FROM ${p}freach re
        JOIN ${p}fedges e ON re.r = e.a),
      ${p}fcomp AS (SELECT node, MIN(r) AS component
                    FROM ${p}freach GROUP BY node),
      ${p}fdrop AS (SELECT DISTINCT doc_id FROM (
                  SELECT doc_id FROM ${p}fsat
                  UNION ALL SELECT node FROM ${p}fcomp
                  WHERE node <> component)),
      ${p}fsurv AS (SELECT doc_id FROM ${p}exact
                WHERE doc_id NOT IN (SELECT doc_id FROM ${p}fdrop)),
      ${p}flagged AS (
        SELECT DISTINCT tg.doc_id FROM (
          SELECT u.doc_id, unnest(t.grams) AS gram
          FROM ${p}fsurv u JOIN train t ON u.doc_id = t.doc_id) tg
        JOIN ev ON tg.gram = ev.gram),
      ${p}staged4 AS MATERIALIZED (
        SELECT t.doc_id, t.lang,
               CASE WHEN NOT t.gate THEN 0
                    WHEN u.canonical IS NULL OR u.canonical != 1 THEN 1
                    WHEN fd.doc_id IS NOT NULL THEN 2
                    WHEN f.doc_id IS NOT NULL THEN 3
                    ELSE 4 END AS stage
        FROM ${p}gated t LEFT JOIN ${p}uniq u ON t.doc_id = u.doc_id
             LEFT JOIN ${p}fdrop fd ON t.doc_id = fd.doc_id
             LEFT JOIN ${p}flagged f ON t.doc_id = f.doc_id)"""

  /** DuckDB mirror of [[funnelStaged]] and [[corpusPass]]: the CTE
    * chain `enriched` → `k` (Gopher verdict) → `train`/`ev` → the rule
    * funnel's `staged4` → `staged(doc_id, lang, stage)` with the
    * stage-5 mix, requiring `$toksSql` in scope. Shared verbatim by the
    * pl16, pl18, pl19, pl20, pl21 and pl23 oracles — one source of
    * funnel truth per engine. */
  private val funnelStagedSql: String = s"""enriched AS (
        SELECT t.doc_id, t.lang,
               CAST(len(toks) AS BIGINT) AS n_words,
               CASE WHEN len(toks) > 0
                 THEN ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks), 6)
                 ELSE 0.0 END AS mean_word_len,
               CAST(len(d.text) - len(regexp_replace(d.text, '[#…]', '', 'g')) AS BIGINT) AS n_symbols,
               CASE WHEN len(toks) > 0
                 THEN ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks), 6)
                 ELSE 0.0 END AS alpha_frac,
               CAST(len(list_intersect(list_distinct(toks),
                 ['the','a','of','and','to','in'])) AS BIGINT) AS n_stop_hits,
               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
               list_distinct(list_transform(
                 CASE WHEN len(toks) >= 13
                   THEN list_transform(generate_series(0, len(toks) - 13),
                        i -> array_to_string(list_slice(toks, i + 1, i + 13), ' '))
                   ELSE []::VARCHAR[] END,
                 g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS grams,
               doc_id % 7 = 0 AS is_eval
        FROM toks t JOIN documents d USING (doc_id)),
      k AS (
        SELECT *, CAST(n_words BETWEEN 50 AND 100000
              AND (n_words > 0 AND mean_word_len BETWEEN 3.0 AND 10.0)
              AND (n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1)
              AND alpha_frac >= 0.8 AND n_stop_hits >= 2 AS INT) AS kept
        FROM enriched),
      train AS (SELECT * FROM k WHERE NOT is_eval),
      ev AS (SELECT DISTINCT unnest(grams) AS gram FROM k WHERE is_eval),
      ${funnelChainSql("", "kept = 1")},
      scnt AS (SELECT lang, COUNT(*) AS n FROM staged4
               WHERE stage = 4 GROUP BY lang),
      snmin AS (SELECT MIN(n) AS n_min FROM scnt),
      srates AS (SELECT lang, CAST(n_min AS DOUBLE) / n AS rate
                 FROM scnt CROSS JOIN snmin),
      staged AS (
        SELECT s.doc_id, s.lang,
               CASE WHEN s.stage = 4
                     AND ${mixUniformSql("s.doc_id")} < r.rate
                    THEN 5 ELSE s.stage END AS stage
        FROM staged4 s LEFT JOIN srates r ON s.lang = r.lang)"""

  /** The per-stage survivor counts of the attrition report: column
    * `AttritionCols(i)` counts the documents whose stage is > i. */
  private val AttritionCols = Seq("n_quality", "n_unique", "n_fuzzy", "n_clean")

  /** DuckDB mirror of [[attrition]] over the `(lang, stage)` CTE
    * `staged`: defines `report`, the counts plus `extra` aggregate
    * columns plus `retention`. */
  private def attritionSql(staged: String, extra: String*): String = {
    val counts = AttritionCols.zipWithIndex.map { case (c, i) =>
      s"CAST(SUM(CASE WHEN stage >= ${i + 1} THEN 1 ELSE 0 END) AS BIGINT) AS $c"
    } ++ extra
    s"""agg AS (
        SELECT lang, COUNT(*) AS n_raw,
               ${counts.mkString(",\n               ")}
        FROM $staged GROUP BY lang),
      report AS (
        SELECT *, ${ExactMean.sql("n_clean", "n_raw")} AS retention
        FROM agg)"""
  }

  /** The ONE corpus pass of the funnel and classifier families, every
    * column any consumer reads off one token binding: Gopher verdict
    * `kept` (pl11), exact fingerprint `fp` (d1), shingle set `sh`
    * (d12), hashed eval grams `grams` (pl14), the eval flag, and the
    * classifier's hashed feature `buckets`. Callers project what they
    * need BEFORE any `.cache()` — the pl16/pl18/pl19 rule funnel drops
    * `buckets`, so column pruning never computes it there; the
    * classifier queries keep it, so features and funnel labels share
    * one corpus read and one tokenization (guide §1.2: remove
    * redundant passes before tuning anything inside them). UNCACHED. */
  private[graft] def corpusPass(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{DedupEnrich, GopherRules}
    GopherRules.withStats(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TextOps.tokens(col("text")).as("toks")))
      .withColumn("fp", DedupEnrich.exactFpFromToks(col("toks")))
      .withColumn("sh", DedupEnrich.shingleSetFromToks(col("toks")))
      .withColumn("grams", TextOps.hashedNgrams(col("toks"), ContamGramK))
      .withColumn("is_eval", col("doc_id") % 7 === 0)
      .withColumn("buckets", clsBuckets(col("toks")))
      .select("doc_id", "lang", "kept", "fp", "sh", "grams", "is_eval",
        "buckets")
  }

  /** The rule funnel's quality gate: pl11's Gopher conjunction. */
  private[graft] val RuleGate: Column = col("kept") === 1

  /** End-to-end curation funnel — every TRAIN document (the doc_id % 7
    * eval slice excluded up front) of a (caller-cached) [[corpusPass]]
    * frame with its furthest-surviving stage, composed in order:
    * quality `gate` → exact dedup among the survivors (d1's
    * fingerprint, min-doc_id canonical) → GUARDED fuzzy dedup of the
    * canonicals (d12's hot-band-guarded pair generation + d6's
    * min-label connected components; survivor = component min) →
    * eval-set decontamination of the fuzzy survivors (pl14's 13-gram
    * overlap against the held-out slice). Stages: 0 = failed the gate,
    * 1 = non-canonical exact dup, 2 = fuzzy near-dup non-survivor
    * (band-saturated OR a non-minimum member of a verified-pair
    * component), 3 = eval-contaminated, 4 = clean survivor. This is the
    * published curation-funnel shape (Gopher §A1.2, RefinedWeb,
    * FineWeb: quality → exact dedup → FUZZY dedup → decontaminate),
    * and the fuzzy stage the end-to-end story exercises is the GUARDED
    * generator — the unguarded d2/d3 self-joins stay registered only
    * as recall models. Each stage's logic is the registered operator's
    * own shared builders, so the funnel can never disagree with the
    * stages it composes; every stage drops documents on this corpus at
    * all three scales (DuckDB-probed before registration,
    * scripts/probe_fuzzy_stage.py: raw→quality −2348, →unique −814,
    * →fuzzy −69, →clean −13 docs at sf0.1; fuzzy drops 5/4/69 at
    * sf0.001/0.01/0.1 — 3 sf0.1 docs sit in BOTH guard legs, so the
    * leg sums 24+48 exceed the 69 distinct drops).
    *
    * The gate is a boolean column of `enriched`: [[RuleGate]] for the
    * rule funnel, "not in the tail tertile" ([[clsGated]]) for the
    * deployed classifier funnel — the trained model IS the quality
    * filter in production (CCNet), the rules only its teacher. A
    * document leaves at stage 0 iff its gate is false, and stages 1–3
    * run on the gate's survivor set, so two gates give genuinely
    * different stagings (rescued rule-fails reach dedup under the
    * classifier gate). [[funnelChainSql]] is the DuckDB mirror.
    *
    * Fuzzy-stage semantics: candidate pairs come from
    * [[graft.functions.DedupEnrich.guardedCandidatePairs]] over the
    * exact-canonicals' MinHash band keys with H resolved through the
    * SHARED [[graft.functions.DedupEnrich.hotThresholdFor]] (fixture
    * default = [[FunnelHotBands]], which the oracle embeds),
    * verified at Jaccard >= [[FunnelMinJaccard]]; components from the
    * SHARED [[graft.functions.DedupEnrich.minLabelComponents]]; the
    * deterministic canonical-survivor rule is "component minimum
    * survives". A BAND-SATURATED doc is NOT a survivor: the guard
    * suppresses a hot band's pairs, so a saturated doc's true
    * component is unknown — dropping it is the over-approximation-safe
    * routing (may drop a would-be survivor of a templated cluster,
    * never lets a hidden near-dup through; both endpoints of every
    * suppressed pair are flagged, per the d12 contract). H = 3 is the
    * fixture threshold (smallest non-vacuous: any pair-producing band
    * holds >= 2 docs); the saturated leg is non-vacuous at sf0.1 only
    * (0/0/24 docs) — the pair leg at all scales (5/4/48 verified
    * pairs).
    *
    * Scale shape: the cached corpus pass (the shingle set rides it so
    * the fuzzy stage re-reads NO corpus data), the d1-style
    * groupBy+join-back for canonicals (no fp window), band keys
    * computed on the (much smaller) canonical-survivor set only, the
    * guard's counts-aggregate-then-semi/anti discipline (O(h²) on a
    * hot band structurally unproducible), a CC loop over the
    * verified-pair graph only (orders of magnitude smaller than the
    * corpus), the pl14 broadcast gram probe (no corpus shuffle) — joins
    * are equi or broadcast throughout.
    *
    * EAGER: the fuzzy stage's CC loop runs driver-controlled Spark
    * jobs at build time (the pl18/pl19 build discipline — plan pins
    * for these queries live in their executing PipelineSpec tests, not
    * PlanSpec). */
  private[graft] def funnelStages(s: SparkSession, enriched: DataFrame,
      gate: Column): DataFrame = {
    import graft.functions.DedupEnrich
    val train = enriched.filter(!col("is_eval"))
    val q = train.filter(gate)
    val canon = q.groupBy("fp").agg(min(col("doc_id")).as("canonical_id"))
    val uniq = q.join(DedupEnrich.joinBackBuild(canon), "fp")
      .withColumn("canonical",
        (col("doc_id") === col("canonical_id")).cast("int"))
    // fuzzy stage: band keys on the exact-canonical survivors only
    // (the shingle set rides the cached enriched pass — no corpus
    // re-read); guard + pairs via the SHARED d12 core, components via
    // the SHARED d6 loop; survivor = component min, saturated docs
    // drop (over-approximation-safe — see the scaladoc)
    val banded = DedupEnrich.withBandKeys(
      uniq.filter(col("canonical") === 1).select(col("doc_id"), col("sh")),
      "sh").cache()
    val fkeys = banded.select(col("doc_id").as("id"),
      explode(col("bands")).as("key"))
    // threshold through the SHARED conf-gated resolver (fixture
    // default = FunnelHotBands, which the oracle embeds; auto derives
    // from the same keys frame — cheap: banded is cached, so the
    // derivation's extra reduction re-reads no corpus data)
    val (fsat, fpairs) = DedupEnrich.guardedCandidatePairs(fkeys,
      DedupEnrich.hotThresholdFor(s, FunnelHotBands, fkeys))
    val fver = DedupEnrich.jaccardVerified(fpairs,
      banded.select(col("doc_id"), col("sh")), FunnelMinJaccard)
      .select("a", "b")
    val fcomp = DedupEnrich.minLabelComponents(fver, IterSizing.iterParts(s))
    val fdrop = fsat.select(col("id").as("doc_id"))
      .unionAll(fcomp.filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id")))
      .distinct().withColumn("fuzzy_drop", lit(1))
    val evalGrams = enriched.filter(col("is_eval"))
      .select(explode(col("grams")).as("gram")).distinct()
    val flagged = uniq.filter(col("canonical") === 1)
      .join(fdrop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .select("doc_id").distinct().withColumn("flag", lit(1))
    train
      .join(uniq.select(col("doc_id"), col("canonical")), Seq("doc_id"), "left")
      .join(fdrop, Seq("doc_id"), "left")
      .join(flagged, Seq("doc_id"), "left")
      .withColumn("stage",
        when(!gate, 0)
          .when(col("canonical").isNull || col("canonical") =!= 1, 1)
          .when(col("fuzzy_drop") === 1, 2)
          .when(col("flag") === 1, 3)
          .otherwise(4))
      .select("doc_id", "lang", "stage")
  }

  /** SHARED rule-funnel staging ([[funnelStages]] under [[RuleGate]]
    * over the pass without `buckets`) — the frame pl18/pl19 and the
    * persisted classifier fit consume. It stops at stage 4: they filter
    * the clean-survivor set (stages {4, 5} partition it), so computing
    * the mix rates for them would be pure plan overhead (measured
    * +1.3-1.7 s each at sf0.1 when stage 5 first landed in their
    * path). UNCACHED: each of those callers consumes it exactly once;
    * [[funnelStaged]] adds the cache itself because its mix stage
    * reads the frame twice. */
  private[graft] def funnelStaged4(s: SparkSession, dir: String): DataFrame =
    funnelStages(s, corpusPass(s, dir).drop("buckets").cache(), RuleGate)

  /** SHARED curation-funnel staging WITH stage 5 = clean survivor
    * SELECTED by the composition sampler (pl15's deterministic
    * Bernoulli at survivor-derived per-language rates — the published
    * pipelines' final MIX step; stages {4, 5} partition the clean
    * survivors, so consumers of the full curated corpus filter
    * stage >= 4 and consumers of the MIXED corpus filter stage >= 5).
    * pl16 reports this frame; [[funnelStagedSql]]'s `staged` is the
    * DuckDB mirror. */
  private def funnelStaged(s: SparkSession, dir: String): DataFrame = {
    val staged4 = funnelStaged4(s, dir)
      .cache() // two consumers: the survivor-rate aggregate + the final mix
    // STAGE 5 — composition sampling (the published pipelines' last
    // step: quality -> dedup -> decontaminate -> MIX): pl15's
    // deterministic Bernoulli applied to the stage-4 survivors, with
    // per-language rates derived from the SURVIVOR counts (n_min/n),
    // so the mixed corpus is balanced toward the smallest surviving
    // language — whose rate is 1.0, so it advances whole (PipelineSpec
    // pins both facts). The draw is the SHARED mixUniform, so pl15 and
    // the funnel can never sample differently at the same rate; langs
    // with no survivors are absent from the rates (left join -> null
    // rate -> no stage-5 promotion to miss).
    val survCounts = staged4.filter(col("stage") === 4)
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val survMin = survCounts.agg(min(col("n")).as("n_min"))
    val survRates = survCounts.crossJoin(broadcast(survMin))
      .select(col("lang"), (col("n_min").cast("double") / col("n")).as("rate"))
    staged4.join(broadcast(survRates), Seq("lang"), "left")
      .withColumn("stage",
        when(col("stage") === 4 && mixUniform(col("doc_id")) < col("rate"),
          5).otherwise(col("stage")))
      .select("doc_id", "lang", "stage")
  }

  /** The ONE per-language attrition report over a `(lang, stage)`
    * staging: n_raw, then [[AttritionCols]] (the documents past the
    * gate, exact dedup, fuzzy dedup and decontamination), then the
    * `extra` aggregates, then [[ExactMean]] retention = n_clean/n_raw.
    * One map-side-combinable aggregate over the per-doc stage number.
    * pl16 adds `n_mixed`; pl23 joins `n_rescued`. */
  private[graft] def attrition(staged: DataFrame, extra: Column*): DataFrame = {
    val passed = AttritionCols.zipWithIndex.map { case (c, i) =>
      sum((col("stage") >= i + 1).cast("long")).as(c)
    }
    staged.groupBy("lang").agg(count(lit(1)).as("n_raw"), passed ++ extra: _*)
      .withColumn("retention", ExactMean(col("n_clean"), col("n_raw")))
  }

  private val q16 = QueryDef(
    "pl16_curation_funnel",
    (s, dir) => attrition(funnelStaged(s, dir),
      sum((col("stage") >= 5).cast("long")).as("n_mixed")).orderBy("lang"),
    Some(s"""
      WITH RECURSIVE $toksSql,
      $funnelStagedSql,
      ${attritionSql("staged",
        "CAST(SUM(CASE WHEN stage >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed")}
      SELECT * FROM report
      ORDER BY lang"""))

  /** Reproducible corpus shuffle into training shards — the
    * materialization step after composition (pl15): every trainer
    * shuffles documents before packing (WebDataset / streaming-loader
    * shard creation), and doing it with rand() destroys the lineage a
    * training-data audit needs. Each document gets a deterministic
    * md5-derived 32-bit sort key (salted `:shard`, independent of
    * pl15's sampling uniform) and a shard = key mod N assignment; the
    * within-shard order is sort_key ascending (doc_id breaks the
    * negligible 32-bit ties).
    *
    * Scale shape — a GLOBAL document shuffle with NO global sort: the
    * assignment is one stateless map-side projection (this registered
    * query — zero joins, zero windows; its only exchange is the
    * declared output ORDER BY). The physical shard write is
    * `repartition(N, shard) + sortWithinPartitions(sort_key)` — one
    * shuffle keyed by shard (uniform by construction, no hot key
    * possible) and a LOCAL sort per shard, where N is chosen so a
    * shard fits the writer (corpus_bytes / shard_size; 16 here only
    * because the corpus is small). This query is the oracle-checkable
    * ASSIGNMENT those mechanics consume. Determinism doubles as
    * reproducibility: re-sharding the same corpus yields byte-identical
    * shard contents. */
  private val q17 = QueryDef(
    "pl17_shuffle_shards",
    (s, dir) => {
      val NShards = 16
      val skey = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":shard"))), 1, 8), 16, 10).cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          (skey % NShards).cast("int").as("shard"),
          skey.as("sort_key"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8))::BIGINT
               % 16 AS INT) AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8))::BIGINT
               AS sort_key
      FROM documents
      ORDER BY doc_id"""))

  /** DuckDB mirror of the BPE merge-learning levels (requires a
    * `words(word, freq)` CTE in scope — pl18 builds it from the
    * survivor tokens directly, pl19 derives it from its per-language
    * `wl` rollup so the corpus is tokenized ONCE per oracle):
    * character vocabulary `v0` → [[graft.functions.BpeOps.NMerges]]
    * merge levels. */
  private def bpeLevelsSql: String = s"""v0 AS MATERIALIZED (
        SELECT word, freq, list_transform(generate_series(1, len(word)),
               i -> substr(word, i, 1)) AS syms
        FROM words),
      ${(1 to graft.functions.BpeOps.NMerges)
        .map(graft.functions.BpeOps.levelSql).mkString(",")}"""

  /** Shared BPE learning loop over a prepared `(word, freq)`
    * vocabulary (pl18 emits the merge table, pl19 encodes with the
    * final vocabulary — compose, never copy):
    * [[graft.functions.BpeOps.NMerges]] iterations of distributed
    * pair-count argmax + merge application. Returns the final
    * (word, freq, syms) vocabulary and the learned merges.
    * Exhaustion semantics: the loop STOPS at the first empty pair
    * space and the vocabulary keeps its last state — the DuckDB level
    * chain's LEFT-join pass-through mirrors this.
    *
    * The production form collects the language-bounded (word, freq)
    * vocabulary ONCE and runs the whole loop driver-side via
    * [[graft.functions.BpeOps.fitBpeLocal]]: the distributed loop costs
    * ~0.07-0.16 s of pure job cadence PER MERGE (hours at a 30k
    * production vocabulary; pl18 measured 3.8 s → 1.65 s warm at sf0.1
    * when the local fit became the default), the local fit replaces
    * that with in-memory milliseconds after the identical one corpus
    * pass. Output is merge-for-merge and word-for-word IDENTICAL
    * (PipelineSpec pins pl18/pl19 equality of both paths), and the
    * oracle checks the OUTPUT.
    *
    * SIZE-GATED like the CC fast path: "language-bounded" is an
    * assumption crawl corpora can violate (ids, hashes, URLs,
    * concatenations make the vocabulary grow with the data), so the
    * local path probes with a bounded `limit(L+1)` collect
    * (`graft.bpe.localVocabLimit`, default 5M words — a few hundred
    * MB of driver heap) and FALLS BACK to the distributed loop, with
    * a warning, when the vocabulary exceeds it — never OOM the driver.
    * A non-positive limit disables the local path (the equality specs
    * force the distributed loop with `0`). */
  private def learnBpe(s: SparkSession, words: DataFrame)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    import graft.functions.BpeOps
    // confInt clamps the upper end (the +1 sentinel probe must not
    // overflow); the > 0 gate covers the lower end — a non-positive
    // limit skips the local path, never a negative-limit
    // AnalysisException (the CC fast path's localLimit discipline)
    val limit = graft.functions.DedupEnrich.confInt(
      s, "graft.bpe.localVocabLimit", 5000000)
    if (limit > 0) {
      val head = words.select(col("word"), col("freq"))
        .limit(limit + 1).collect()
      if (head.length <= limit) {
        val local = head.map(r => (r.getString(0), r.getLong(1))).toSeq
        val (state, merges) = BpeOps.fitBpeLocal(local)
        import s.implicits._
        return (state.toDF("word", "freq", "syms"), merges)
      }
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"BPE vocabulary exceeds graft.bpe.localVocabLimit=$limit " +
          "words - falling back to the distributed merge loop")
    }
    val np = IterSizing.iterParts(s)
    var vocab = words
      .select(col("word"), col("freq"), BpeOps.charSyms(col("word")).as("syms"))
      .coalesce(np).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var k = 1
    var live = true
    while (k <= BpeOps.NMerges && live) {
      val top = BpeOps.pairCounts(vocab)
        .orderBy(desc("c"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) live = false // alphabet exhausted (tiny corpus)
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, a, b, c))
        vocab = vocab
          .withColumn("syms", BpeOps.applyMerge(col("syms"), a, b))
          .localCheckpoint()
        k += 1
      }
    }
    (vocab, merges.result())
  }

  /** The previous pl19 invocation's `wl` cache handle — unpersisted at
    * the next build (see the cache-site comment in pl19). */
  private var lastWl: Option[DataFrame] = None

  /** The survivor word-frequency table — the ONE corpus-sized pass of
    * the BPE family (everything downstream is vocabulary-sized).
    * `private[graft]`: the PipelineSpec local-vs-distributed equality
    * pin consumes the same vocabulary the registered query trains on. */
  private[graft] def survivorWords(s: SparkSession, dir: String): DataFrame = {
    val surv = funnelStaged4(s, dir).filter(col("stage") === 4)
      .select("doc_id")
    Tables.documents(s, dir)
      .join(surv, "doc_id")
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
  }

  /** Tokenizer fit on the curated corpus — BPE merge learning
    * (Sennrich et al. 2016; see [[graft.functions.BpeOps]] for the
    * algorithm/determinism contract), the step that closes the
    * training-data story: curate (pl16) → mix (pl15) → shard (pl17) →
    * TRAIN TOKENIZER. Input is pl16's stage-4 (clean) survivors via the SHARED
    * [[funnelStaged4]] builder (compose, never copy), so the tokenizer
    * is fit on exactly the corpus that survives curation — fitting on
    * raw data would spend merge budget on boilerplate the funnel
    * removed.
    *
    * Output: the first [[graft.functions.BpeOps.NMerges]] learned
    * merges (rank, left, right, pair count at merge time) — the
    * prefix of the merge table a production tokenizer persists.
    *
    * Scale shape: the corpus is read ONCE into a (word, freq)
    * aggregate; all iterations run over the VOCABULARY (distinct
    * words — bounded by the language, ~10^5-10^7 rows at any corpus
    * size, coalesced to [[IterSizing.iterParts]] partitions like the
    * d6 loop). Each iteration is one map-side-combinable pair-count
    * aggregate (PlanSpec pins the shape) + a ONE-ROW argmax collect
    * (loop control, the d6 convergence-count discipline) + one
    * localCheckpoint'd merge application (truncates the 10-deep
    * lambda lineage). Nothing corpus-sized moves after the first
    * aggregate. */
  private val q18 = QueryDef(
    "pl18_bpe_merges",
    (s, dir) => {
      val (_, merges) = learnBpe(s, survivorWords(s, dir))
      import s.implicits._
      merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .orderBy("merge_rank")
    },
    Some(s"""
      WITH RECURSIVE $toksSql,
      $funnelStagedSql,
      surv AS (SELECT doc_id FROM staged4 WHERE stage = 4),
      words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(toks) AS word FROM toks JOIN surv USING (doc_id))
        GROUP BY word),
      $bpeLevelsSql
      ${graft.functions.BpeOps.unionSql(graft.functions.BpeOps.NMerges)}"""))

  /** Tokenizer APPLICATION on the curated corpus — encode pl18's
    * learned merges back over the survivors and report the per-language
    * tokenizer-QA statistics every production tokenizer fit is judged
    * by: fertility (tokens per word — lower is better; 1.0 means every
    * word became a single token) and compression (characters per
    * token — higher is better). The learning loop is the SHARED
    * [[learnBpe]]; the encoded vocabulary is its final state, so
    * pl18/pl19 can never disagree about what was learned.
    *
    * Scale shape: the corpus is tokenized ONCE, into the per-language
    * `wl` rollup — the loop's global word frequencies are DERIVED from
    * it (a vocabulary-sized re-aggregate), not re-scanned — and
    * everything downstream is vocabulary-sized: the encode is a
    * vocab⋈vocab equi-join on `word` plus one per-language aggregate.
    * The ratios use the shared integer micro-unit rounding (the
    * pl12/pl16 idiom — a double division + ROUND splits engines on
    * exact .5 ties in the 7th digit), widened through DECIMAL/HUGEINT
    * because `2 * n_tokens * 1000000` overflows BIGINT past ~4.6e12
    * tokens — a magnitude real corpora reach (pl16's doc counts never
    * did; Spark non-ANSI would wrap silently while DuckDB errors). */
  private val q19 = QueryDef(
    "pl19_bpe_encode",
    (s, dir) => {
      val surv = funnelStaged4(s, dir).filter(col("stage") === 4)
        .select("doc_id")
      // the ONE corpus-sized pass; cached because both the global
      // word-frequency derivation and the final encode join read it.
      // The r14 advice item (explicit unpersist against
      // multi-invocation accumulation) is ADJUDICATED here, measured:
      // the build cannot unpersist its OWN cache (the last consumer —
      // the returned frame's final aggregate — runs after the build
      // returns), and the eager-localCheckpoint alternative measured
      // no better (one isolated-JVM pairing read it ~2.2 s slower warm,
      // 9.6-10.4 vs 7.4-8.4; a later Bench pairing read parity —
      // within ambient, so cache keeps its columnar-pruning edge).
      // CacheManager cannot dedupe wl across
      // invocations either: its lineage passes through the fuzzy
      // stage's checkpointed CC labels, whose RDD id is fresh per
      // invocation. So the build unpersists the PREVIOUS invocation's
      // wl instead — at most one entry is ever live (if a caller
      // still holds an unexecuted older pl19 frame, that frame
      // recomputes: correct, just uncached).
      val wl = Tables.documents(s, dir)
        .join(surv, "doc_id")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
        .cache()
      // sameResult guard (review finding): with the CC fast path the
      // fuzzy labels are a deterministic LocalRelation, so a repeat
      // invocation's wl plan canonicalizes EQUAL to the previous one —
      // cache() then no-ops onto the shared entry, and unpersisting
      // the "previous" frame would evict the entry the CURRENT
      // invocation just adopted. Same plan ⇒ keep the shared entry
      // (one entry, no accumulation); different plan (another sfdir,
      // or the distributed-CC path's fresh RDD ids) ⇒ unpersist it.
      Pipeline.synchronized {
        lastWl.filterNot(_.queryExecution.analyzed
            .sameResult(wl.queryExecution.analyzed))
          .foreach { old =>
            // stale-handle cleanup must never fail a LIVE build: the
            // static handle can outlive its SparkSession (a later
            // build on a fresh session meets a stopped context's
            // frame, where unpersist throws) — skip stopped contexts
            // and swallow anything else; the worst case of a skipped
            // unpersist is one dead cache entry, not a wrong result
            // (ADVICE r15)
            try {
              if (!old.sparkSession.sparkContext.isStopped)
                old.unpersist(false)
            } catch { case scala.util.control.NonFatal(_) => () }
          }
        lastWl = Some(wl)
      }
      val words = wl.groupBy("word").agg(sum(col("freq")).as("freq"))
      val (vocab, _) = learnBpe(s, words)
      val enc = vocab.select(col("word"),
        size(col("syms")).cast("long").as("n_syms"))
      wl.join(enc, "word")
        .groupBy("lang").agg(
          sum(col("freq")).as("n_words"),
          sum(col("freq") * col("n_syms")).as("n_tokens"),
          sum(col("freq") * length(col("word"))).as("n_chars"))
        .withColumn("fertility",
          expr("CAST((2 * CAST(n_tokens AS DECIMAL(38,0)) * 1000000 + n_words)" +
            " DIV (2 * n_words) AS BIGINT)")
            .cast("double") / lit(1000000.0))
        .withColumn("chars_per_token",
          expr("CAST((2 * CAST(n_chars AS DECIMAL(38,0)) * 1000000 + n_tokens)" +
            " DIV (2 * n_tokens) AS BIGINT)")
            .cast("double") / lit(1000000.0))
        .orderBy("lang")
    },
    Some(s"""
      WITH RECURSIVE $toksSql,
      $funnelStagedSql,
      surv AS (SELECT doc_id FROM staged4 WHERE stage = 4),
      wl AS MATERIALIZED (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT t.lang, unnest(t.toks) AS word
              FROM toks t JOIN surv USING (doc_id))
        GROUP BY 1, 2),
      words AS (
        SELECT word, CAST(SUM(freq) AS BIGINT) AS freq
        FROM wl GROUP BY word),
      $bpeLevelsSql,
      enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
              FROM v${graft.functions.BpeOps.NMerges}),
      per AS (
        SELECT lang,
               CAST(SUM(freq) AS BIGINT) AS n_words,
               CAST(SUM(freq * n_syms) AS BIGINT) AS n_tokens,
               CAST(SUM(freq * len(word)) AS BIGINT) AS n_chars
        FROM wl JOIN enc USING (word)
        GROUP BY lang)
      SELECT lang, n_words, n_tokens, n_chars,
             CAST(CAST((2 * CAST(n_tokens AS HUGEINT) * 1000000 + n_words)
                 // (2 * n_words) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS fertility,
             CAST(CAST((2 * CAST(n_chars AS HUGEINT) * 1000000 + n_tokens)
                 // (2 * n_tokens) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS chars_per_token
      FROM per
      ORDER BY lang"""))

  /** Hashed-feature dimensionality of the pl20 quality classifier:
    * token buckets 0..[[ClsD]]-1, the always-on bias slot [[ClsBias]],
    * and 16 document-length bins [[ClsLenBase]]..[[ClsLenBase]]+15 —
    * the hashing-trick layout (Weinberger et al. 2009; fastText's
    * bucket table) that keeps the weight vector FIXED-DIM and
    * driver-holdable no matter how large the corpus vocabulary
    * grows. */
  private[graft] val ClsD = 256
  private[graft] val ClsBias = 256
  private[graft] val ClsLenBase = 257
  private[graft] val ClsDim = 273
  /** Training epochs / learning rate / eps of the pl20 batch ADAGRAD
    * descent (Duchi et al. 2011 — the per-coordinate adaptive step
    * Vowpal Wabbit shipped as its default for exactly this
    * hashed-feature linear-model shape). Plain full-batch GD is
    * ill-conditioned here: the bias/length/common-token directions
    * dominate the Hessian, so any lr big enough to move the
    * DISCRIMINATIVE coordinates in a few epochs oscillates the
    * dominant ones between the all-positive and all-negative regimes
    * (probed: lr 50 "worked" at exactly 6 epochs and collapsed at 4
    * and 8 — a lucky snapshot, not a model). Adagrad's 1/sqrt(acc)
    * per-coordinate scaling fixes the conditioning: the probed grid
    * (DuckDB mirror = the tuning harness, the model being
    * engine-identical) shows a stable plateau — lr 0.5-0.7 x epochs
    * 6-10 all land held-out accuracy 0.86-0.95 at every scale, and
    * this pair sits mid-plateau on both axes. */
  private val ClsEpochs = 8
  private val ClsLr = 0.7
  private val ClsEps = 1e-12

  /** Per-document hashed feature-bucket array (BINARY presence
    * features): the distinct md5-bucketed tokens, the bias slot, and
    * the capped length bin. `toks` MUST be a bound attribute (the
    * transform lambda re-evaluates non-attribute args per element —
    * the DedupEnrich discipline). DuckDB mirror in [[clsBucketsSql]];
    * both engines derive the SAME bucket ids from the same md5-prefix
    * integer family as [[TextOps.hashedNgrams]]. */
  private[graft] def clsBuckets(toks: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.ClsBucketsExpr(
      ColumnBridge.expression(toks), ClsD, ClsBias.toLong, ClsLenBase.toLong))
  }

  /** DuckDB mirror of [[clsBuckets]] over a token-list expression. */
  private def clsBucketsSql(toks: String): String =
    s"""list_concat(
       |           list_distinct(list_transform($toks,
       |             tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT % $ClsD)),
       |           [CAST($ClsBias AS BIGINT),
       |            $ClsLenBase + least(15, len($toks) // 16)])""".stripMargin

  /** Per-document L2 feature normalization: every active bucket
    * carries x = 1/sqrt(k) (k = active-bucket count), so each doc's
    * feature vector has unit L2 norm and one gradient epoch moves a
    * doc's own margin by ~lr regardless of document LENGTH — without
    * it the effective step scales with k (~200 active features) and
    * full-batch descent oscillates between the all-positive and
    * all-negative regimes (probed; the sklearn/fastText norm
    * discipline). IEEE-754 requires a correctly-rounded sqrt, and the
    * 9-dp round + decimal cast re-exactifies the division, so x is
    * engine-identical. */
  private[graft] def clsXNorm(buckets: Column): Column =
    round(lit(1.0) / sqrt(size(buckets)), 9).cast("decimal(12,9)")

  /** DuckDB mirror of [[clsXNorm]]. */
  private def clsXNormSql(buckets: String): String =
    s"CAST(ROUND(1.0 / SQRT(len($buckets)), 9) AS DECIMAL(12,9))"

  /** One logistic-regression epoch's GRADIENT aggregate over the
    * per-doc training frame `tr` = (y, x, buckets) and the current
    * weight-map literal — factored so PlanSpec can pin the plan shape:
    * the per-doc probability is a pure map-side [[clsMarginFold]]
    * projection (no join, no per-doc shuffle — the round-19 rewrite of
    * the join+two-aggregate epoch), the explode and the partial_sum
    * happen map-side, and the ONLY exchange of an epoch moves
    * ≤ [[ClsDim]] partial rows per task — never the corpus. Output is
    * the 1/n-NORMALIZED per-bucket gradient `gn`: the sum is exact
    * decimal over addends identical to the former join form ((p−y)·x
    * per (doc, bucket) pair — order-independent), the one cast to
    * double and the division happen once per bucket, after
    * aggregation, so the learned weights are bit-identical to the
    * previous shape and to the DuckDB mirror. */
  private[graft] def clsEpochGradient(tr: DataFrame,
      w: Array[java.math.BigDecimal], n: Long): DataFrame =
    tr.select(
        // the per-doc gradient factor (p − y)·x is computed ONCE per
        // document BEFORE the bucket explode (identical addends, so
        // the exact-decimal per-bucket sum is bit-equal; the explode
        // then carries one narrow decimal instead of re-running the
        // decimal multiply per (doc, bucket) pair — guide §2.3)
        ((clsSigmoid(clsMarginFold(col("buckets"), col("x"), w))
          - col("y")) * col("x")).as("gd"),
        explode(col("buckets")).as("bucket"))
      .groupBy("bucket")
      .agg(sum(col("gd")).as("g"))
      .select(col("bucket"),
        (col("g").cast("double") / lit(n.toDouble)).as("gn"))

  /** Margin → calibrated probability, EXACT at the engine boundary:
    * the margin is an exact decimal sum of 9-dp weights, the sigmoid
    * is computed in double, and the 6-dp round + decimal cast makes
    * the stored probability identical across engines (the QueryDef
    * transcendental discipline). */
  private[graft] def clsSigmoid(margin: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-margin.cast("double"))), 6)
      .cast("decimal(8,6)")

  /** The trained weight table collected into a driver-side DENSE ARRAY
    * indexed by bucket id — dimension-bounded ([[ClsDim]] slots, the
    * streaming-gate / fitBpeLocal driver-state convention): the
    * array embeds into the scoring expression
    * ([[graft.plans.WeightedBucketSumExpr]]), so every scoring
    * consumer becomes a pure map-side projection with no join and no
    * per-doc shuffle. Bucket ids are 0-based and dense by construction
    * ([[clsBuckets]] emits 0..[[ClsDim]]-1), so slot b holds w_b; a
    * bucket absent from `w` (a pruned persisted table) holds exact 0 —
    * the same contribution the join form's dropped term produced
    * (StreamingSpec pins the pruned-table contract). */
  private[graft] def clsWeightArray(w: DataFrame): Array[java.math.BigDecimal] = {
    val m = w.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    (0L until ClsDim.toLong).map(b =>
      m.getOrElse(b, java.math.BigDecimal.ZERO)).toArray
  }

  /** The ONE exact-decimal margin kernel over a bound `buckets`
    * attribute, its L2 norm `x`, and a dense weight array — shared by
    * [[clsScoreAll]], the per-epoch training gradient, and the
    * streaming quality gate, so no surface can score differently.
    * (Σ w_b)·x equals the join form's Σ(w_b·x) BIT-FOR-BIT: every
    * weight is a scale-9 decimal so the sum is exact and
    * order-independent (see [[graft.plans.WeightedBucketSumExpr]]'s
    * exactness contract and the static overflow impossibility proof —
    * |w| < 10^11 from the decimal(20,9) weight type × ≤ [[ClsDim]] =
    * 273 buckets ⇒ |Σw| < 2.8·10^13), the final multiply is the
    * native exact decimal(24,9)×decimal(12,9), and decimal
    * distributivity is exact rational arithmetic. The sum runs as a
    * NATIVE codegen expression, not a higher-order `aggregate` fold:
    * Spark evaluates lambda folds as interpreted CodegenFallback
    * trees, measured 20-40% slower than even the broadcast join this
    * kernel replaces. StreamingSpec pins the bit-equality on the full
    * sf0.001 corpus. */
  private[graft] def clsMarginFold(buckets: Column, x: Column,
      w: Array[java.math.BigDecimal]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.WeightedBucketSumExpr(
      ColumnBridge.expression(buckets), w.toIndexedSeq))
      .cast("decimal(24,9)") * x
  }

  /** The ONE training run of the pl20/pl21 classifier family (shared
    * so the two registered consumers and the persisted
    * [[graft.api.QualityModel]] store can never train differently):
    * funnel-distilled labels from `staged4`, [[ClsEpochs]] Adagrad
    * epochs over the cached co-partitioned pair frame, returns the
    * final [[ClsDim]]-row (bucket, w) weight table as a driver-local
    * literal frame. See the q20 scaladoc for the full method,
    * determinism, and scale contract. */
  private[graft] def clsTrained(s: SparkSession, feats: DataFrame,
      staged4: DataFrame): DataFrame = {
    // funnel-derived labels: stage-4 survivors vs quality-fails
    // (stages 1-3 are excluded — they passed the quality gate and
    // were dropped for dedup/contamination reasons the classifier
    // must not learn as "low quality")
    val lab = staged4
      .filter(col("stage") === 0 || col("stage") === 4)
      .select(col("doc_id"), (col("stage") === 4).cast("int").as("y"))
      .cache()
    val n = lab.count()
    // the cached training frame is PER-DOC (y, x, buckets) — the
    // round-19 rewrite of the exploded, doc_id-repartitioned pair
    // frame: with the margin computed as a map-side fold against the
    // weight-map literal ([[clsMarginFold]] — bit-equal to the former
    // broadcast-join Σ(w_b·x), see its scaladoc), an epoch needs
    // neither the per-doc margin shuffle nor the gradient join, so
    // nothing keyed on doc_id ever moves: each epoch is ONE scan of
    // this frame into the [[clsEpochGradient]] partial aggregate
    // (guide §2.4: two of the three per-epoch exchanges removed
    // outright; at 100 TB an epoch shuffles ClsDim partial rows per
    // task and nothing else). The explode happens inside the epoch
    // aggregate, so the cache holds one array row per doc instead of
    // ~200 exploded pair rows.
    // coalesced to the shared iteration sizing (the d6/pl18 loop-frame
    // discipline): the epoch job re-reads this cache 8 times, so its
    // task count is pure per-epoch cadence; iterParts scales with
    // spark.sql.shuffle.partitions, so cluster runs keep proportional
    // parallelism
    val tr = feats.join(lab, "doc_id")
      .select(col("y"), clsXNorm(col("buckets")).as("x"), col("buckets"))
      .coalesce(IterSizing.iterParts(s))
      .cache()
    // driver-held optimizer state: per-bucket weight (9-dp decimal)
    // and Adagrad squared-gradient accumulator (18-dp decimal —
    // EXACT accumulation, so epoch order can never perturb it).
    // Scala-local rows, bucket-ordered (slot b = bucket b throughout).
    //
    // Each epoch is exactly ONE Spark job (the measured cost at test
    // scale was per-job cadence, not data): the Adagrad update runs as
    // the SAME Spark expressions as the former 273-row join form, but
    // INSIDE the gradient job's final projection — the current w/acc
    // enter as bucket-indexed array literals — so the epoch's plan is
    // scan → partial agg → ClsDim-row exchange → agg+update → collect.
    //
    // Buckets with NO occurrence this epoch are absent from the
    // gradient output and their state is carried over UNCHANGED on the
    // driver. That is bit-identical to the former left-join arm
    // (gnz = 0): accNew = acc + 0 = acc exactly, and
    // round(toDouble(w), 9) = w because |w| < ClsEpochs × ClsLr < 6
    // (weights start at 0 and each step moves < ClsLr since
    // |gn|/sqrt(acc_new + eps) < |gn|/sqrt(gn²) = 1), so the 9-dp
    // value round-trips the double exactly (38 mantissa bits needed,
    // 52 available); the require below fails loudly if the bound is
    // ever violated rather than silently diverging.
    var wRows: IndexedSeq[(java.math.BigDecimal, java.math.BigDecimal)] =
      IndexedSeq.fill(ClsDim)(
        (java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO))
    for (_ <- 1 to ClsEpochs) {
      val wArr = wRows.map(_._1).toArray
      val wTl = typedlit(wRows.map(t => BigDecimal(t._1)))
      val accTl = typedlit(wRows.map(t => BigDecimal(t._2)))
      val slot = (col("bucket") + 1).cast("integer")
      val updated = clsEpochGradient(tr, wArr, n)
        .withColumn("gnz", coalesce(col("gn"), lit(0.0)))
        .withColumn("acc0", element_at(accTl, slot).cast("decimal(30,18)"))
        .withColumn("accNew",
          (col("acc0") + (col("gnz") * col("gnz")).cast("decimal(20,18)"))
            .cast("decimal(30,18)"))
        .select(col("bucket"),
          round(element_at(wTl, slot).cast("decimal(20,9)").cast("double")
            - lit(ClsLr) * col("gnz")
              / sqrt(col("accNew").cast("double") + lit(ClsEps)), 9)
            .cast("decimal(20,9)").as("w"),
          col("accNew").as("acc"))
        .collect()
        .map(r => (r.getLong(0), r.getDecimal(1), r.getDecimal(2)))
      val upd = updated.map(t => t._1 -> ((t._2, t._3))).toMap
      wRows = (0 until ClsDim).map(b => upd.getOrElse(b.toLong, wRows(b)))
      wRows.foreach { case (w0, _) =>
        require(w0.abs.doubleValue < ClsEpochs * ClsLr + 1,
          s"classifier weight $w0 escaped the no-op-carryover bound") }
    }
    // training temporaries are consumed — downstream consumers read
    // only the cached feature pass and the final weight literal
    tr.unpersist(false)
    lab.unpersist(false)
    s.createDataFrame(wRows.zipWithIndex
        .map { case ((w0, _), b) => (b.toLong, w0) })
      .toDF("bucket", "w")
      .select(col("bucket"), col("w").cast("decimal(20,9)").as("w"))
  }

  /** Score a feature frame with a trained weight table: the weight
    * table collects into a map literal ([[clsWeightLit]] — the
    * dimension-bounded train-once-broadcast-thereafter artifact) and
    * every document's margin is the map-side [[clsMarginFold]], so
    * scoring is a PURE PROJECTION — no explode, no join, no per-doc
    * shuffle (the round-19 rewrite of the explode + broadcast-join +
    * corpus-wide groupBy(doc_id) shape; guide §2.4 — at 100 TB the
    * former shape re-exchanged every scored document). p is bit-equal
    * to the former join form (the [[clsMarginFold]] distributivity
    * contract, StreamingSpec-pinned). Output: (doc_id, lang, kept,
    * is_eval, p). Shared by q20's eval report, q21's full-corpus
    * bucketing, and [[graft.api.QualityModel]]. */
  private[graft] def clsScoreAll(feats: DataFrame, w: DataFrame): DataFrame =
    feats.select(col("doc_id"), col("lang"), col("kept"), col("is_eval"),
      clsScore(w).as("p"))

  /** The score column p over a frame's `buckets` (see [[clsScoreAll]]). */
  private def clsScore(w: DataFrame): Column =
    clsSigmoid(clsMarginFold(col("buckets"), clsXNorm(col("buckets")),
      clsWeightArray(w)))

  /** The ONE DuckDB mirror of the training run ([[clsTrained]]) — the
    * shared CTE block (features → labels → pair frame → epoch chain)
    * both q20's and q21's oracles compose; the final weight CTE is
    * `w[[ClsEpochs]]`. NOTE every per-epoch CTE that is referenced
    * more than once is MATERIALIZED: DuckDB inlines plain CTEs per
    * reference, and the epoch recurrence references its predecessor
    * several times — an un-materialized chain re-expands the whole
    * funnel 2^epochs times (measured: the 6-epoch chain went 150 s →
    * 2 s). The acc CTE is named gg$i, not G$i — DuckDB CTE names are
    * case-insensitive and G$i collides with the gradient g$i. */
  private def clsTrainSql: String = {
    val epochs = (1 to ClsEpochs).map { i =>
      val prevAcc =
        if (i == 1) "CAST(g.sq AS DECIMAL(30,18))"
        else "CAST(Gp.acc + g.sq AS DECIMAL(30,18))"
      val prevAccJoin =
        if (i == 1) "" else s" JOIN gg${i - 1} Gp USING (bucket)"
      s"""m$i AS (
        SELECT tr.doc_id, tr.y, SUM(w.w * tr.x) AS margin
        FROM tr JOIN w${i - 1} w USING (bucket) GROUP BY tr.doc_id, tr.y),
      p$i AS (
        SELECT doc_id, y,
               CAST(ROUND(1.0 / (1.0 + EXP(-CAST(margin AS DOUBLE))), 6)
                 AS DECIMAL(8,6)) AS p
        FROM m$i),
      g$i AS MATERIALIZED (
        SELECT bucket, gn, CAST(gn * gn AS DECIMAL(20,18)) AS sq
        FROM (SELECT tr.bucket,
                     CAST(SUM((p.p - p.y) * tr.x) AS DOUBLE)
                       / (SELECT n FROM nn) AS gn
              FROM tr JOIN p$i p USING (doc_id) GROUP BY tr.bucket)),
      gg$i AS MATERIALIZED (
        SELECT w.bucket,
               COALESCE($prevAcc,
                 ${if (i == 1) s"CAST(0 AS DECIMAL(30,18))"
                   else "CAST(Gp.acc AS DECIMAL(30,18))"}) AS acc
        FROM w${i - 1} w LEFT JOIN g$i g USING (bucket)$prevAccJoin),
      w$i AS MATERIALIZED (
        SELECT w.bucket,
               CAST(ROUND(CAST(w.w AS DOUBLE)
                   - $ClsLr * COALESCE(g.gn, 0)
                     / SQRT(CAST(Gc.acc AS DOUBLE) + $ClsEps), 9)
                 AS DECIMAL(20,9)) AS w
        FROM w${i - 1} w LEFT JOIN g$i g USING (bucket)
             JOIN gg$i Gc USING (bucket))"""
    }.mkString(",\n      ")
    s"""featb AS (
        SELECT t.doc_id, t.lang, e.kept, e.is_eval,
               ${clsBucketsSql("t.toks")} AS buckets
        FROM toks t JOIN k e ON t.doc_id = e.doc_id),
      feat AS MATERIALIZED (
        SELECT *, ${clsXNormSql("buckets")} AS x FROM featb),
      lab AS MATERIALIZED (
        SELECT doc_id, CASE WHEN stage = 4 THEN 1 ELSE 0 END AS y
        FROM staged4 WHERE stage IN (0, 4)),
      nn AS (SELECT COUNT(*) AS n FROM lab),
      tr AS MATERIALIZED (
        SELECT f.doc_id, l.y, f.x, unnest(f.buckets) AS bucket
        FROM feat f JOIN lab l USING (doc_id)),
      w0 AS (
        SELECT CAST(range AS BIGINT) AS bucket,
               CAST(0 AS DECIMAL(20,9)) AS w
        FROM range($ClsDim)),
      $epochs"""
  }

  /** pl20 — the TRAINED corpus-quality classifier family (builders
    * [[corpusPass]] → [[clsTrained]] → [[clsScoreAll]]), the CCNet/fastText
    * stage every published LLM pipeline puts FIRST (CCNet §4.2 trains
    * a fastText linear model over hashed n-grams; GPT-3 appendix A and
    * Llama train logistic-regression quality filters): hashing-trick
    * features ([[clsBuckets]] — fixed [[ClsDim]]-dim, so the weight
    * vector is driver-holdable at ANY corpus size), labels derived
    * from the repo's own curation funnel (stage-4 survivors = 1,
    * Gopher quality-fails = 0 — the funnel is the noisy teacher, the
    * classifier the cheap student, exactly CCNet's
    * Wikipedia-vs-CommonCrawl construction), and [[ClsEpochs]] epochs
    * of full-batch logistic regression under ADAGRAD (see [[ClsLr]])
    * run as MAP-SIDE GRADIENT AGGREGATES with a driver-held
    * ~[[ClsDim]]-row weight+accumulator table re-broadcast per epoch
    * (the fitBpeLocal driver-state discipline: state is
    * DIMENSION-bounded, never corpus-bounded). The reference's own
    * quality scoring is a
    * rule-based heuristic (`check_for_anomaly`'s additive indicator
    * scoring, reference `query/poisoning.rs:156-262`); the trained
    * stage goes beyond it per the round brief.
    *
    * Reported: per-language HELD-OUT generalization — the doc_id % 7
    * eval slice is excluded from the funnel (and therefore from
    * training) at stage zero, and the classifier's keep/drop verdict
    * is scored against the Gopher rule gate on exactly those unseen
    * docs (n_eval, n_pred_keep, n_agree, accuracy, mean_p).
    *
    * Determinism contract (the cross-engine trap a trained stage
    * adds): every sum that ORDER could perturb is an EXACT DECIMAL
    * sum (9-dp weights, 6-dp probabilities, 9-dp L2 norms, 18-dp
    * Adagrad accumulators — order-independent in both engines); the
    * transcendentals (sigmoid's exp, sqrt) and the double→decimal
    * re-exactification at each materialization boundary are
    * boundary-safe in practice rather than provably tie-free —
    * `exp()` is not required to be correctly rounded, and the
    * `gn*gn → DECIMAL(20,18)` cast rounds Spark's shortest-decimal
    * rendering where DuckDB rounds the exact binary value, so a value
    * landing EXACTLY on a rounding boundary could in principle split
    * the engines — and the correctness gate verifies no boundary is
    * hit at any epoch on any tested scale; the weight update runs the
    * SAME double expression `w - lr * gn / sqrt(acc + eps)` in both
    * engines. Under that verified contract the learned weights — not
    * just the final report — are bit-identical across engines at
    * every epoch.
    *
    * Scale shape (round-19 rewrite): ONE corpus pass builds the cached
    * per-doc (y, x, buckets) frame; each epoch is ONE map-side
    * aggregate over it — the margin/probability is a pure projection
    * against the weight-map LITERAL ([[clsMarginFold]]), the gradient
    * explode partial-sums before its exchange, so the only shuffle of
    * an epoch moves ≤ [[ClsDim]] partial rows per task — plus one
    * [[ClsDim]]-row collect. Nothing corpus-sized ever moves, and
    * nothing keyed on doc_id ever shuffles: at 100 TB the per-doc
    * frame streams from the scan into partial aggregates and the
    * driver holds 273 decimals. */
  private val q20 = QueryDef(
    "pl20_quality_classifier",
    (s, dir) => {
      // ONE cached corpus pass feeds BOTH the label funnel and the
      // classifier features
      val enriched = corpusPass(s, dir).cache()
      val wFinal = clsTrained(s, enriched,
        funnelStages(s, enriched, RuleGate))
      val scoredEval = clsScoreAll(enriched.filter(col("is_eval")), wFinal)
        .withColumn("pred", (col("p") >= lit(0.5)).cast("int"))
      scoredEval.groupBy("lang").agg(
        count(lit(1)).as("n_eval"),
        sum(col("pred").cast("long")).as("n_pred_keep"),
        sum((col("pred") === col("kept")).cast("long")).as("n_agree"),
        sum((col("p") * 1000000).cast("long")).as("sp"))
        .withColumn("accuracy",
          expr("(2 * n_agree * 1000000 + n_eval) DIV (2 * n_eval)")
            .cast("double") / lit(1000000.0))
        .withColumn("mean_p",
          expr("(2 * sp + n_eval) DIV (2 * n_eval)")
            .cast("double") / lit(1000000.0))
        .drop("sp")
        .orderBy("lang")
    },
    Some {
      s"""
      WITH RECURSIVE $toksSql,
      $funnelStagedSql,
      $clsTrainSql,
      cev AS (
        SELECT f.doc_id, f.lang, f.kept, f.x, unnest(f.buckets) AS bucket
        FROM feat f WHERE f.is_eval),
      cem AS (
        SELECT doc_id, lang, kept, SUM(w.w * cev.x) AS margin
        FROM cev JOIN w$ClsEpochs w USING (bucket)
        GROUP BY doc_id, lang, kept),
      cep AS (
        SELECT doc_id, lang, kept,
               CAST(ROUND(1.0 / (1.0 + EXP(-CAST(margin AS DOUBLE))), 6)
                 AS DECIMAL(8,6)) AS p
        FROM cem),
      agg AS (
        SELECT lang, COUNT(*) AS n_eval,
               CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pred_keep,
               CAST(SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)
                   = kept THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
               CAST(SUM(CAST(p * 1000000 AS BIGINT)) AS BIGINT) AS sp
        FROM cep GROUP BY lang)
      SELECT lang, n_eval, n_pred_keep, n_agree,
             CAST((2 * n_agree * 1000000 + n_eval) // (2 * n_eval) AS DOUBLE)
               / 1000000.0 AS accuracy,
             CAST((2 * sp + n_eval) // (2 * n_eval) AS DOUBLE)
               / 1000000.0 AS mean_p
      FROM agg
      ORDER BY lang"""
    })

  /** The per-language (lang, c1, c2) tertile cutoff table over a
    * scored frame — the cutoff half of [[clsBucketAssign]], factored
    * so [[graft.api.QualityModel.cutoffs]] ships the deployed-gate
    * threshold artifact from ONE aggregation pass (review finding:
    * distinct()-ing the per-document assignment evaluated the scoring
    * lineage twice and shuffled a corpus-sized frame for a
    * 2-values-per-language table). Histogram on (lang, p) bounded by
    * the 6-dp score value space; integer-rank tertiles; ties share a
    * bucket. */
  private[graft] def clsCutoffs(scored: DataFrame): DataFrame = {
    val byVal = scored.groupBy("lang", "p").agg(count(lit(1)).as("cnt"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("p").desc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val nPer = byVal.groupBy("lang").agg(sum(col("cnt")).as("n"))
    byVal
      .withColumn("first_rank",
        coalesce(sum(col("cnt")).over(wv), lit(0L)) + 1)
      .join(broadcast(nPer), "lang")
      .withColumn("vbucket",
        when(col("first_rank") <= expr("(n + 2) DIV 3"), 1)
          .when(col("first_rank") <= expr("(2 * n + 2) DIV 3"), 2)
          .otherwise(3))
      .groupBy("lang").agg(
        min(when(col("vbucket") === 1, col("p"))).as("c1"),
        min(when(col("vbucket") <= 2, col("p"))).as("c2"))
  }

  /** Per-document tertile bucket assignment over a scored frame — the
    * bucketing half of [[clsGateBuckets]], factored so the persisted
    * [[graft.api.QualityModel]] path buckets identically: appends
    * `bucket` (1=head, 2=middle, 3=tail; ties share a bucket, the pl12
    * cutoff semantics) plus the `c1`/`c2` cutoff columns. */
  private[graft] def clsBucketAssign(scored: DataFrame): DataFrame =
    scored.join(broadcast(clsCutoffs(scored)), "lang")
      .withColumn("bucket",
        when(col("p") >= col("c1"), 1)
          .when(col("p") >= col("c2"), 2).otherwise(3))

  /** The pl21 quantile-gate + composition report over a scored frame
    * ((doc_id, lang, is_eval, p) — [[clsScoreAll]]'s shape) and the
    * funnel staging — factored so PlanSpec can pin the broadcast
    * structure (both the histogram-total and the cutoff table enter as
    * BROADCAST joins — the per-language cutoff table is <= 2 rows per
    * language BY CONSTRUCTION, so a refactor that demotes it to a
    * shuffle join would re-exchange the whole scored corpus) and so
    * [[graft.api.QualityModel]] consumers bucket identically. Exact
    * pl12 cutoff machinery: histogram on (lang, p) bounded by the 6-dp
    * score value space, integer-rank tertiles, ties share a bucket. */
  private[graft] def clsGateBuckets(scored: DataFrame,
      staged4: DataFrame): DataFrame = {
    clsBucketAssign(scored)
      .join(staged4.select(col("doc_id"), col("stage")), Seq("doc_id"),
        "left")
      .groupBy("lang", "bucket").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("stage") === 4, 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("stage") === 0, 1L).otherwise(0L)).as("n_fail"),
        sum(col("is_eval").cast("long")).as("n_eval"),
        sum((col("p") * 1000000).cast("long")).as("sp"))
      .withColumn("tier",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle").otherwise("tail"))
      .withColumn("mean_p",
        expr("(2 * sp + n_docs) DIV (2 * n_docs)")
          .cast("double") / lit(1000000.0))
      .select("lang", "bucket", "tier", "n_docs", "n_clean", "n_fail",
        "n_eval", "mean_p")
  }

  /** The ONE DuckDB mirror of full-corpus scoring + per-language
    * tertile cutoffs ([[clsScoreAll]] + [[clsBucketAssign]]'s cutoff
    * half) — shared verbatim by the q21 and q23 oracles so the gate
    * report and the gated selection can never cut on different buckets
    * (the clsTrainSql one-source discipline). Requires `feat` and
    * `w$ClsEpochs` in scope; defines `scored` and `cuts`. */
  private def clsScoreCutoffSql: String = s"""sall AS (
        SELECT f.doc_id, f.lang, f.is_eval, f.x, unnest(f.buckets) AS bucket
        FROM feat f),
      smargin AS (
        SELECT doc_id, lang, is_eval, SUM(w.w * sall.x) AS margin
        FROM sall JOIN w$ClsEpochs w USING (bucket)
        GROUP BY doc_id, lang, is_eval),
      scored AS MATERIALIZED (
        SELECT doc_id, lang, is_eval,
               CAST(ROUND(1.0 / (1.0 + EXP(-CAST(margin AS DOUBLE))), 6)
                 AS DECIMAL(8,6)) AS p
        FROM smargin),
      byval AS (SELECT lang, p, COUNT(*) AS cnt FROM scored GROUP BY ALL),
      ranked AS (
        SELECT lang, p,
               COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY p DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                 AS first_rank
        FROM byval),
      nper AS (SELECT lang, COUNT(*) AS n FROM scored GROUP BY lang),
      vb AS (
        SELECT ranked.lang, p,
               CASE WHEN first_rank <= (n + 2) // 3 THEN 1
                    WHEN first_rank <= (2 * n + 2) // 3 THEN 2
                    ELSE 3 END AS vbucket
        FROM ranked JOIN nper ON ranked.lang = nper.lang),
      cuts AS (
        SELECT lang, MIN(CASE WHEN vbucket = 1 THEN p END) AS c1,
               MIN(CASE WHEN vbucket <= 2 THEN p END) AS c2
        FROM vb GROUP BY lang)"""

  /** pl21 — classifier-GATED composition, the DEPLOYED shape of the
    * pl20 classifier (the r17 verdict's top item): CCNet does not
    * train-and-report — the trained model scores EVERY document and
    * the pipeline keeps/buckets by per-language score QUANTILE
    * (head/middle/tail, §4.3's perplexity-bucket construction applied
    * to the quality score). This query trains once via the SHARED
    * [[clsTrained]] builder (bit-identical weights to pl20 — the
    * determinism contract carries, and PipelineSpec pins score
    * equality on the eval slice), scores the FULL corpus with one
    * broadcast join ([[clsScoreAll]]), derives per-language tertile
    * cutoffs with pl12's exact histogram-cutoff machinery (a histogram
    * groupBy on (lang, p) — row count bounded by the 6-dp score value
    * space, never the corpus — an integer-rank window over it, and a
    * broadcast cutoff table), and reports per-bucket COMPOSITION:
    * document counts, funnel stage-4 survivors (the signal a deployed
    * gate acts on — head should be survivor-rich), Gopher quality
    * fails (tail-rich), held-out docs, and the exact-integer mean
    * score. Ties share a bucket (the pl12 cutoff semantics — no
    * doc_id-ordered ntile any cutoff pipeline would fail to
    * reproduce).
    *
    * Production consumers that score repeatedly persist the weight
    * table ONCE through [[graft.api.QualityModel]] (the ManifestIO
    * store discipline — train once, broadcast thereafter) instead of
    * retraining; the REGISTERED query stays a pure function of
    * (session, dir) — the oracle contract — so it trains in-query
    * like pl20, one [[clsTrained]] run per invocation.
    *
    * Scale shape: everything corpus-sized is one cached feature pass
    * + the training pair frame (the pl20 contract); scoring is a
    * broadcast join + map-side margin aggregate; the cutoff table is
    * <= 2 rows per language and broadcasts; the composition report is
    * one map-side-combinable aggregate over the scored frame joined to
    * the (already-computed, cached) funnel staging. */
  private val q21 = QueryDef(
    "pl21_classifier_gate",
    (s, dir) => {
      // ONE cached corpus pass feeds the label funnel AND the features
      val enriched = corpusPass(s, dir).cache()
      // cached: labels (training) + composition (report) both read it
      val staged4 = funnelStages(s, enriched, RuleGate).cache()
      val w = clsTrained(s, enriched, staged4)
      // cutoff pass + bucketing pass both read the scored frame
      val scored = clsScoreAll(enriched, w).cache()
      clsGateBuckets(scored, staged4).orderBy("lang", "bucket")
    },
    Some {
      s"""
      WITH RECURSIVE $toksSql,
      $funnelStagedSql,
      $clsTrainSql,
      $clsScoreCutoffSql,
      b AS (
        SELECT s.*, CASE WHEN s.p >= c.c1 THEN 1
                         WHEN s.p >= c.c2 THEN 2 ELSE 3 END AS bucket
        FROM scored s JOIN cuts c ON s.lang = c.lang),
      agg AS (
        SELECT b.lang, b.bucket, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN st.stage = 4 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clean,
               CAST(SUM(CASE WHEN st.stage = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fail,
               CAST(SUM(CASE WHEN b.is_eval THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_eval,
               CAST(SUM(CAST(b.p * 1000000 AS BIGINT)) AS BIGINT) AS sp
        FROM b LEFT JOIN staged4 st USING (doc_id)
        GROUP BY b.lang, b.bucket)
      SELECT lang, bucket,
             CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS tier,
             n_docs, n_clean, n_fail, n_eval,
             CAST((2 * sp + n_docs) // (2 * n_docs) AS DOUBLE)
               / 1000000.0 AS mean_p
      FROM agg
      ORDER BY lang, bucket"""
    })

  /** PII patterns of the pl22 scrub — one definition, embedded into
    * BOTH engines' regex calls. Deliberately alternation-free, so
    * Java's leftmost-first backtracking and DuckDB's (RE2-style)
    * leftmost-longest semantics provably agree on every match span:
    * a greedy class run has exactly one maximal match either way.
    * The classes are NOT fully disjoint — an email local part admits
    * '+' and digits, so a string like 'a+1234567890@x.com' contains a
    * phone-shaped span, and an IPv4 can ride inside an email domain.
    * The scrub therefore counts each class on that STAGE'S input
    * (after the prior classes' replacements), so per-class counts
    * always equal the redactions actually applied, natural PII
    * included. The replacement tokens themselves ('<EMAIL>',
    * '<PHONE>') contain no digits, so they can never seed a
    * later-stage match. */
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhone = "\\+\\d[\\d -]{7,}\\d"
  private val PiiIp = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** pl22 — PII detection + scrubbing, the redaction stage every
    * published crawl pipeline runs before release (C4 strips lines by
    * pattern; Dolma/RedPajama ship dedicated email/phone/IP taggers
    * and masks — public knowledge): per-document match COUNTS per PII
    * class and the globally REDACTED text, verified end to end by an
    * exact md5 of the redacted string (not just counts — the oracle
    * proves byte-identical redaction).
    *
    * The synthetic corpus carries no natural PII (probed: zero
    * matches for all classes at every scale), so the fixture INJECTS
    * deterministic doc_id-derived spans — an email every 3rd doc, a
    * phone every 5th, an IPv4 every 7th (composable: doc 15 gets
    * email + phone) — the m1 synthetic-media precedent: the fixture
    * stands in for a crawl corpus, the MACHINERY (scan, count,
    * ordered multi-class redaction) is the real operator. Redaction
    * order email → phone → IP is part of the contract: each stage
    * (both its count AND its replace) runs on the previous stage's
    * OUTPUT, so a phone-shaped run inside an email local part is
    * counted zero times — the email stage already consumed it — and
    * counts == redactions holds on natural PII, not just the
    * fixture.
    *
    * Scale shape: a stateless map-side projection — regex count +
    * replace are codegen'd string expressions, no join, no aggregate;
    * the only exchange is the declared output ORDER BY. At 100 TB
    * this is the textbook embarrassingly-parallel scan stage. */
  private val q22 = QueryDef(
    "pl22_pii_scrub",
    (s, dir) => {
      val raw = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1 555 "),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), raw.as("raw"))
        .select(col("doc_id"), col("lang"), col("raw"),
          regexp_replace(col("raw"), PiiEmail, "<EMAIL>").as("s1"))
        .select(col("doc_id"), col("lang"), col("raw"), col("s1"),
          regexp_replace(col("s1"), PiiPhone, "<PHONE>").as("s2"))
        .select(col("doc_id"), col("lang"),
          regexp_count(col("raw"), lit(PiiEmail)).as("n_emails"),
          regexp_count(col("s1"), lit(PiiPhone)).as("n_phones"),
          regexp_count(col("s2"), lit(PiiIp)).as("n_ips"),
          md5(regexp_replace(col("s2"), PiiIp, "<IP>"))
            .as("redacted_md5"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH raw AS (
        SELECT doc_id, lang,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' call +1 555 '
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                       ELSE '' END AS raw
        FROM documents),
      staged AS (
        SELECT doc_id, lang, raw,
               regexp_replace(raw, '$PiiEmail', '<EMAIL>', 'g') AS s1
        FROM raw),
      staged2 AS (
        SELECT doc_id, lang, raw, s1,
               regexp_replace(s1, '$PiiPhone', '<PHONE>', 'g') AS s2
        FROM staged)
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(raw, '$PiiEmail')) AS INT)
               AS n_emails,
             CAST(len(regexp_extract_all(s1, '$PiiPhone')) AS INT)
               AS n_phones,
             CAST(len(regexp_extract_all(s2, '$PiiIp')) AS INT) AS n_ips,
             md5(regexp_replace(s2, '$PiiIp', '<IP>', 'g'))
               AS redacted_md5
      FROM staged2
      ORDER BY doc_id"""))

  /** The deployed classifier gate as a COLUMN of the corpus pass:
    * appends the score `p` and `gate` = "not in the tail tertile" — p
    * at or above the language's `c2` cutoff from the SHARED
    * [[clsCutoffs]] (exactly the tail bucket pl21 reports, since
    * c2 <= c1). The cutoff table (<= 2 values per language) collects
    * driver-side into a literal map, the shipped-threshold shape of
    * [[graft.api.QualityModel.cutoffs]], so gating is a pure projection
    * of the (caller-cached) pass — no join, no cached gate frame. A
    * document with no cutoff or no score is not in the tail, matching
    * the oracle's `NOT IN gtail`. */
  private[graft] def clsGated(pass: DataFrame, w: DataFrame): DataFrame = {
    val scored = pass.withColumn("p", clsScore(w))
    val c2 = clsCutoffs(scored).filter(col("lang").isNotNull).collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDecimal(2))).toMap
    scored.withColumn("gate", !coalesce(
      col("p") < try_element_at(typedlit(c2), col("lang")), lit(false)))
  }

  /** The pl23 report over a [[clsGated]] frame — factored so
    * [[graft.api.QualityModel]]'s persisted-weights path produces the
    * IDENTICAL report minus the in-query training (QualityModelSpec
    * pins the bit-equality, the pl20/pl21 convention): the
    * [[attrition]] of the gated staging plus `n_rescued`, the rule-gate
    * fails the trained gate keeps — a filter on the same gate
    * column. */
  private[graft] def gatedFunnelReport(s: SparkSession,
      gated: DataFrame): DataFrame = {
    val rescued = gated
      .filter(!col("is_eval") && col("kept") =!= 1 && col("gate"))
      .groupBy("lang").agg(count(lit(1)).as("n_rescued"))
    attrition(funnelStages(s, gated, col("gate")))
      .join(rescued, Seq("lang"), "left")
      .withColumn("n_rescued", coalesce(col("n_rescued"), lit(0L)))
      .select("lang", "n_raw", "n_quality", "n_rescued", "n_unique",
        "n_fuzzy", "n_clean", "retention")
      .orderBy("lang")
  }

  /** pl23 — classifier-GATED corpus SELECTION: the funnel actually
    * CONSUMES the pl21 gate (the r18 verdict's top item). pl21 buckets
    * and reports, but pl16's quality stage is still the rule-based
    * Gopher conjunction; the DEPLOYED CCNet pipeline (§4.3 — the pl21
    * citation) runs the TRAINED model as the quality filter, keeps
    * head+middle, and DROPS tail — the hand rules survive only as the
    * training teacher. This query runs that deployment end to end:
    * train the classifier via the SHARED [[clsTrained]]
    * (funnel-distilled labels — bit-identical weights to pl20/pl21,
    * the purity contract), gate the corpus pass on the SHARED
    * [[clsCutoffs]] ([[clsGated]] — exactly the tail pl21 reports),
    * then run [[funnelStages]] with that gate REPLACING the rule gate
    * — tail ⇒ stage 0, head/middle pass to dedup — so exact dedup /
    * guarded fuzzy dedup / decontamination all run on the TRAINED
    * gate's survivor set. NOTE the naive composition (Gopher AND
    * not-tail) was probed first and is VACUOUS on this corpus — the
    * tail tertile sits entirely inside the Gopher fails at every
    * scale, so it would drop zero extra documents; the replacement
    * form is both the published deployment AND the non-vacuous one
    * (scripts/probe_gate_selection.py).
    *
    * Reported per language, pl16's attrition shape: n_raw, n_quality
    * (the gate's head+middle survivors), n_unique, n_fuzzy, n_clean,
    * integer-micro retention — plus `n_rescued`, the documents the
    * trained gate KEEPS that the rule gate would have dropped
    * (Gopher-fail, head/middle): the deployment delta between student
    * and teacher, non-vacuous alongside the gate's drop count
    * (n_raw − n_quality, structurally ≈ the tail tertile) at every
    * tested scale.
    *
    * Production consumers persist the weights once through
    * [[graft.api.QualityModel]] and gate with the stored cutoffs; the
    * REGISTERED query stays a pure function of (session, dir) — the
    * oracle contract — so it trains in-query like pl20/pl21.
    *
    * Scale shape: the pl20 training contract (one cached corpus pass,
    * dimension-bounded driver state), one scoring + cutoff aggregate
    * pass, and TWO funnel stagings off the ONE cached pass (the rule
    * teacher for labels, then the gated selection) — the gate is a
    * projection of that pass, so nothing corpus-sized is joined to
    * apply it. */
  private val q23 = QueryDef(
    "pl23_gated_funnel",
    (s, dir) => {
      // ONE cached corpus pass feeds the label funnel, the gated
      // funnel, AND the features
      val enriched = corpusPass(s, dir).cache()
      // the rule funnel (the pl20/pl21 teacher) — consumed once, by
      // clsTrained's label projection
      val w = clsTrained(s, enriched, funnelStages(s, enriched, RuleGate))
      gatedFunnelReport(s, clsGated(enriched, w))
    },
    Some {
      s"""
      WITH RECURSIVE $toksSql,
      $funnelStagedSql,
      $clsTrainSql,
      $clsScoreCutoffSql,
      gtail AS MATERIALIZED (
        SELECT s.doc_id FROM scored s JOIN cuts c ON s.lang = c.lang
        WHERE s.p < c.c2),
      ${funnelChainSql("g", "doc_id NOT IN (SELECT doc_id FROM gtail)")},
      rescued AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rescued
        FROM ggated WHERE kept != 1 AND gate GROUP BY lang),
      ${attritionSql("gstaged4")}
      SELECT lang, n_raw, n_quality,
             CAST(COALESCE(n_rescued, 0) AS BIGINT) AS n_rescued,
             n_unique, n_fuzzy, n_clean, retention
      FROM report LEFT JOIN rescued USING (lang)
      ORDER BY lang"""
    })

  val all: Seq[QueryDef] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11,
    q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23)
}
