package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{DedupEnrich, MinHash, TextOps}

/** Equality pins for the round-19 native text kernels
  * ([[graft.plans.TextKernels]]): each kernel must be VALUE-IDENTICAL
  * to the higher-order-function composition it replaced, because the
  * DuckDB oracle SQL mirrors the composed construction — a kernel that
  * drifts by one bit desynchronizes band keys / gram hashes / feature
  * buckets across every consuming query. Pinned on the full sf0.001
  * corpus plus crafted edge cases (empty text, sub-k docs, repeated
  * tokens, a NULL token array, null tokens), on both the codegen and
  * the interpreted path. */
class NativeKernelsSpec extends SparkSpec {

  private def docToks: DataFrame =
    Tables.documents(spark, Sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  /** Edge corpus: empty, whitespace-only, shorter-than-k, exactly-k,
    * repeated tokens (shingle/gram dup collapse), long repetitive, a
    * NULL token array, and an array with null tokens. */
  private def edgeToks: DataFrame = {
    import spark.implicits._
    // doc 10: tokens() never emits a null element, so the array is
    // built literally — long enough for every window and n-gram size
    val withNulls = (0 until 40).map(i =>
      if (i % 7 == 3) null else s"w${i % 5}")
    val nullToks = Seq((10L, withNulls)).toDF("doc_id", "toks")
    Seq(
      (1L, ""),
      (2L, "   \n\t  "),
      (3L, "one"),
      (4L, "one two"),
      (5L, "one two three"),
      (6L, "a b a b a b a b a b a b a b a b a b"),
      (7L, ("tok " * 200).trim),
      (8L, "The QUICK brown-fox; jumps!! over 42 lazy dogs " * 10),
      (9L, "null text sentinel"))
      .toDF("doc_id", "text")
      // doc 9 carries NULL text -> NULL toks: the kernels must
      // reproduce the composed chains' when/otherwise null routing
      .withColumn("text",
        when(col("doc_id") === 9, lit(null)).otherwise(col("text")))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .unionByName(nullToks)
  }

  private def assertColsEqual(df: DataFrame, native: org.apache.spark.sql.Column,
      composed: org.apache.spark.sql.Column): Unit = {
    val bad = df.select(col("doc_id"), native.as("n"), composed.as("c"))
      .filter(!(col("n") <=> col("c")))
      .limit(5).collect()
    assert(bad.isEmpty, s"native != composed on: ${bad.mkString("; ")}")
    assertInterpretedMatchesCodegen(df.select(col("doc_id"), native.as("n")))
  }

  test("shingle_set kernel == array_distinct(shingles(k)) composition") {
    for (df <- Seq(docToks, edgeToks))
      assertColsEqual(df,
        DedupEnrich.shingleSetFromToks(col("toks")),
        ComposedRefs.shingleSetFromToksComposed(col("toks")))
  }

  test("minhash_band_keys kernel == fingerprints→signature→bandKeys composition") {
    for (base <- Seq(docToks, edgeToks)) {
      val sh = base.select(col("doc_id"),
        DedupEnrich.shingleSetFromToks(col("toks")).as("sh"))
      val n = DedupEnrich.withBandKeys(sh, "sh", "nb")
      val c = ComposedRefs.withBandKeysComposed(n, "sh", "cb")
      val bad = c.filter(!(col("nb") <=> col("cb"))).limit(5).collect()
      assert(bad.isEmpty, s"band keys diverge: ${bad.mkString("; ")}")
      assertInterpretedMatchesCodegen(n.select("doc_id", "nb"))
    }
  }

  test("independently built band-key kernels are semanticEquals after optimization") {
    // the coefficient tables are constants of the kernel call: two
    // copies must canonicalize equal, or exchange reuse and common
    // subexpression elimination silently stop applying
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val sh = docToks.select(col("doc_id"),
      DedupEnrich.shingleSetFromToks(col("toks")).as("sh"))
    val twice = DedupEnrich.withBandKeys(
      DedupEnrich.withBandKeys(sh, "sh", "b1"), "sh", "b2")
    val calls = twice.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect {
        case s: StaticInvoke if s.functionName == "minHashBandKeys" => s
      })
    assert(calls.length == 2, s"expected two band-key calls: $calls")
    assert(calls.head ne calls(1))
    assert(calls.head.semanticEquals(calls(1)))
  }

  test("hashed_ngrams kernel == ngrams→md5-prefix→distinct composition") {
    for (df <- Seq(docToks, edgeToks); k <- Seq(3, 13, 16))
      assertColsEqual(df,
        TextOps.hashedNgrams(col("toks"), k),
        ComposedRefs.hashedNgramsComposed(col("toks"), k))
  }

  test("cls_buckets kernel == distinct-bucket + bias + length-bin composition") {
    for (df <- Seq(docToks, edgeToks))
      assertColsEqual(df,
        graft.queries.Pipeline.clsBuckets(col("toks")),
        ComposedRefs.clsBucketsComposed(col("toks")))
  }

  test("window_occurrences kernel == transform/struct composition") {
    for (df <- Seq(docToks, edgeToks))
      assertColsEqual(df,
        DedupEnrich.windowOccurrencesFromToks(col("toks")),
        ComposedRefs.windowOccurrencesFromToksComposed(col("toks")))
  }

  test("window_hashes kernel == occurrences→h→distinct composition") {
    for (df <- Seq(docToks, edgeToks))
      assertColsEqual(df,
        DedupEnrich.windowHashesFromToks(col("toks")),
        ComposedRefs.windowHashesFromToksComposed(col("toks")))
  }

  test("ngram_set kernel == strict ngrams + distinct composition") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    for (df <- Seq(docToks, edgeToks); k <- Seq(2, 3))
      assertColsEqual(df,
        ColumnBridge.column(graft.plans.NgramSetExpr(
          ColumnBridge.expression(col("toks")), k)),
        array_distinct(TextOps.ngrams(col("toks"), k)))
  }

  test("top_bigram kernel == count/struct-min aggregate on exploded bigrams") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    for (df <- Seq(docToks, edgeToks)) {
      val native = df
        .select(col("doc_id"), ColumnBridge.column(graft.plans.TopBigramExpr(
          ColumnBridge.expression(col("toks")))).as("t"))
        .filter(col("t").isNotNull)
        .select(col("doc_id"), col("t.top_c").as("c"), col("t.bg").as("bg"))
      val agg = df
        .select(col("doc_id"), explode(TextOps.ngrams(col("toks"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(min(struct((-col("c")).as("nc"), col("bg").as("bg"))).as("t"))
        .select(col("doc_id"), (-col("t.nc")).as("c"), col("t.bg").as("bg"))
      val bad = native.as("n").join(agg.as("a"), Seq("doc_id"), "full")
        .filter(!(col("n.c") <=> col("a.c")) || !(col("n.bg") <=> col("a.bg")))
        .limit(5).collect()
      assert(bad.isEmpty, s"top bigram diverges: ${bad.mkString("; ")}")
      assertInterpretedMatchesCodegen(native)
    }
  }

  test("remove_spans kernel == anti-join/groupBy rebuild (the d14 chain)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // crafted spans over the edge corpus: remove the window starting
    // at every even position of docs 6-8 (W=3 here for a dense case)
    val w = 4
    val df = edgeToks.withColumn("starts",
      filter(sequence(lit(1), greatest(size(col("toks")), lit(1))),
        p => p % 3 === 1).cast("array<int>"))
    val native = df.select(col("doc_id"),
      ColumnBridge.column(graft.plans.RemoveSpansExpr(
        ColumnBridge.expression(col("toks")),
        ColumnBridge.expression(col("starts")), w)).as("r"))
      .select(col("doc_id"), col("r.n_kept").as("n_kept"),
        col("r.kept_md5").as("kept_md5"))
    val covered = df.select(col("doc_id"),
        explode(col("starts")).as("pos"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("t"))
      .distinct()
    val tok = df.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("t"), col("col").as("tok"))
    val reb = tok.join(covered, Seq("doc_id", "t"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("t"), col("tok")))),
            x => x.getField("tok")))).as("kept_md5"))
    val composed = df.select("doc_id").join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
    val bad = native.as("n").join(composed.as("c"), Seq("doc_id"))
      .filter(!(col("n.n_kept") <=> col("c.n_kept")) ||
        !(col("n.kept_md5") <=> col("c.kept_md5")))
      .limit(5).collect()
    assert(bad.isEmpty, s"span rebuild diverges: ${bad.mkString("; ")}")
    assertInterpretedMatchesCodegen(native)
  }

  test("token_stats kernel == length-sum / rlike / isin lambda compositions") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val stop = IndexedSeq("the", "a", "of", "and", "to", "in")
    for (df <- Seq(docToks, edgeToks)) {
      val ts = ColumnBridge.column(graft.plans.TokenStatsExpr(
        ColumnBridge.expression(col("toks")), stop))
      assertColsEqual(df, ts.getField("sum_len"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)))
      assertColsEqual(df, ts.getField("n_alpha").cast("int"),
        size(filter(col("toks"), t => t.rlike("[a-z]"))))
      assertColsEqual(df, ts.getField("n_stop").cast("int"),
        size(filter(col("toks"), t => t.isin(stop.map(x => x: Any): _*))))
    }
  }

  test("simhash16 kernel == aggregate/zip_with composition") {
    for (df <- Seq(docToks, edgeToks))
      assertColsEqual(df,
        MinHash.simhash16(col("toks")),
        ComposedRefs.simhash16Composed(col("toks")))
  }
}
