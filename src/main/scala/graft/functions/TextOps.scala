package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the BM25 lane, dedup passes and the
  * text-quality analytics. Everything is built from codegen'd SQL
  * functions so the same semantics are expressible in the DuckDB oracle.
  *
  * Capability parity: signature tokens / jaccard
  * (reference: crates/mnemo-core/src/query/experience.rs:152-200),
  * est_tokens (query/retained.rs:67-70), excerpt (query/recall.rs:1096-1106).
  */
object TextOps {

  /** Lowercase alnum tokenizer — `[^a-z0-9]+` split, empties dropped.
    * DuckDB equivalent:
    * `list_filter(regexp_split_to_array(lower(t),'[^a-z0-9]+'), x -> len(x)>0)` */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Distinct token set (order not meaningful). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Per-document char-trigram counts (`map<trigram, count>`) via the
    * native one-pass [[graft.plans.CharTrigramCountsExpr]] — the t8
    * char-LM primitive; registered in SQL as `char_trigram_counts`. */
  def charTrigramCounts(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.CharTrigramCountsExpr(
      ColumnBridge.expression(text)))
  }

  /** Jaccard similarity of two token-set columns. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double"))

  /** Word k-shingles (positional n-grams over the token array).
    * Built from k direct element lookups per position — O(n·k) — rather
    * than a per-position `slice` copy, which is O(n²) per document and
    * dominates shingling cost on long texts. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k), i =>
        concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array(concat_ws(" ", toks)))

  /** DuckDB mirror of [[shingles]](k) + `list_distinct` over the
    * token-list expression `toks` — the shingle-SET construction every
    * dedup oracle shares (Dedup's `sh` CTE, the pl16 funnel's fuzzy
    * stage). One source of SQL truth: two oracles carrying divergent
    * shingle SQL would silently stop matching each other's band keys
    * exactly like two drifted Column builders would. */
  def shingleSetSqlExpr(toks: String, k: Int): String =
    s"""list_distinct(CASE WHEN len($toks) >= $k
       |           THEN list_transform(generate_series(0, len($toks) - $k),
       |                               i -> array_to_string(list_slice($toks, i + 1, i + $k), ' '))
       |           ELSE [array_to_string($toks, ' ')] END)""".stripMargin

  /** DuckDB mirror of [[jaccard]] over two shingle-list expressions
    * (shared by the d2/d6/d12 oracles and the funnel's fuzzy stage). */
  def jaccardSqlExpr(a: String, b: String): String =
    s"""CAST(len(list_intersect($a, $b)) AS DOUBLE)
       |              / len(list_distinct(list_concat($a, $b)))""".stripMargin

  /** STRICT k-token n-grams: a doc shorter than k tokens has NONE —
    * unlike [[shingles]]' whole-doc fallback (right for dedup blocking,
    * wrong for overlap tests: a 5-token doc is not a 13-gram). The
    * decontamination granularity (pl14). */
  def ngrams(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k), i =>
        concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** DISTINCT 60-bit md5-prefix hashes of the strict k-token n-grams —
    * the form grams travel in (8-byte longs, never ~100-byte strings)
    * through distinct/explode/broadcast/join. ONE definition shared by
    * pl14 and the pl16 funnel's decontamination stage, so the two can
    * never hash differently; the DuckDB mirror is
    * `('0x' || substr(md5(g), 1, 15))::BIGINT`. */
  def hashedNgrams(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.HashedNgramsExpr(
      ColumnBridge.expression(toks), k))
  }

  /** The reference's token estimator: ceil(chars / 4). */
  def estTokens(text: Column): Column = ceil(length(text) / lit(4.0)).cast("long")

  /** First line, char-safe truncated with ellipsis (recall.rs:1096-1106).
    * `get()` (0-indexed, null on missing) rather than `element_at`:
    * under Spark 4's default ANSI mode the latter THROWS on an empty
    * array, so an empty/whitespace-only document would fail the whole
    * query instead of excerpting to null. */
  def excerpt(text: Column, maxChars: Int = 120): Column = {
    val firstLine = get(filter(split(text, "\n"), l => length(trim(l)) > 0), lit(0))
    when(length(firstLine) <= maxChars, firstLine)
      .otherwise(concat(substring(firstLine, 1, maxChars), lit("…")))
  }

  /** Normalized document fingerprint: md5 of lowercase text with
    * whitespace collapsed — byte-stable across engines. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))).cast("double")
        / length(text).cast("double")).otherwise(lit(0.0))

  /** Ratio of tokens that are in a stopword list. */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column =
    when(size(toks) > 0,
      size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
        .cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
}
